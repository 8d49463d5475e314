package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Deduplication operators for large-scale training-data pipelines.
  *
  * Scale design (the 100 TB contract):
  *  - Exact dedup is a hash-aggregate on a 128-bit content hash — one
  *    shuffle of (hash, id), never of the payload.
  *  - Near-dup never goes O(n²): MinHash+LSH and SimHash banding both
  *    reduce the candidate space to same-bucket pairs before any exact
  *    verification; only candidate pairs touch the full shingle sets.
  *  - All hash families derive from ONE portable MD5-based hash per input
  *    ([[graft.functions.PortableHash]]) with arithmetically-derived
  *    variants — no UDFs in the hot path, and every output is exactly
  *    replicable by the DuckDB oracle (unlike xxhash64, which is
  *    Spark-only and forced these operators into rows-only checks).
  */
object Dedup {

  /** Shingles in more docs than this are dropped from the Jaccard universe
    * (boilerplate/stop n-grams). No-op on the test corpora (max DF ≈ 70 at
    * sf0.1) — it exists to bound the inverted-index self-join at scale.
    * Mirrored in the d02 DuckDB oracle. */
  val DefaultDfCap = 1000

  /** LSH buckets larger than this are dropped before candidate self-joins. */
  val DefaultBucketCap = 1000

  /** Planned scan width WITHOUT a physical-planning pass (r18, r17
    * verdict #8): the pre-r18 probe (`df.rdd.getNumPartitions`) forced
    * a full second physical plan per query build — invisible at sf0.1,
    * but it doubles driver-side planning cost for the affected paths
    * at 100 TB plan sizes. For file scans this runs Spark's own split
    * and packing (`PartitionedFileUtil.splitFiles` under the format's
    * `isSplitable`, then `FilePartition.getFilePartitions`) over the
    * FileIndex's cached listing, so an unsplittable file (gzip CSV or
    * JSON) counts as one chunk; for checkpointed inputs it reads the
    * EXISTING RDD's partition count (no planning — the RDD already
    * exists). Any other leaf shape (local relations, bucketed tables
    * whose scan width the planner may set by bucket, multi-source joins
    * whose output width is set by the shuffle, not the scan) returns
    * None and the caller leaves the input alone.
    */
  private[graft] def planWidth(df: DataFrame): Option[Int] = {
    import org.apache.spark.sql.execution.{LogicalRDD, PartitionedFileUtil}
    import org.apache.spark.sql.execution.datasources.{FilePartition,
      HadoopFsRelation, LogicalRelation}
    val sess = df.sparkSession
    // only a single-leaf plan has a scan-determined width — a join or
    // union's output width is set downstream (shuffle/union arity),
    // exactly the shapes the pre-r18 probe never fired on
    df.queryExecution.analyzed.collectLeaves() match {
      case Seq(lr: LogicalRelation) => lr.relation match {
        case fs: HadoopFsRelation if fs.bucketSpec.isEmpty =>
          val dirs = fs.location.listFiles(Nil, Nil)
          // maxSplitBytes is 0 when openCostInBytes is 0 and
          // minPartitionNum exceeds the input bytes; a zero step would
          // throw in splitFiles
          val split = math.max(1L, FilePartition.maxSplitBytes(sess, dirs))
          val chunks = dirs.flatMap { d =>
            d.files.flatMap(f => PartitionedFileUtil.splitFiles(f, f.getPath,
              fs.fileFormat.isSplitable(sess, fs.options, f.getPath), split, d.values))
          }.sortBy(-_.length)
          Some(FilePartition.getFilePartitions(sess, chunks, split).size)
        case _ => None
      }
      case Seq(l: LogicalRDD) => Some(l.rdd.getNumPartitions)
      case _ => None
    }
  }

  /** Unsplittable-input spread (r17, guide §2.5): the per-row hash
    * kernels (minhash signatures, simhash votes, shingle explodes) run
    * in the SCAN stage, so a single-file / single-row-group input caps
    * them at one task no matter the split configuration. When the
    * input plans fewer partitions than the session's cores, one
    * id-keyed repartition (deterministic hash partitioning; row set
    * unchanged) spreads the kernel; at corpus scale the scan already
    * carries ≥ cores splits and this is a no-op. The width probe is
    * [[planWidth]] (r18) — no physical-planning pass on the build path.
    */
  private[graft] def spreadIfNarrow(df: DataFrame, key: Column): DataFrame = {
    val target = df.sparkSession.sparkContext.defaultParallelism
    // explicit width (r18): a keyed repartition WITHOUT a partition
    // count is AQE-coalescible, and on a tiny-bytes/heavy-kernel input
    // the advisory size coalesces the spread right back to one task —
    // the exact shape this rescue exists for. The explicit count is
    // the session's core knob, not a constant.
    if (planWidth(df).exists(_ < target)) df.repartition(target, key) else df
  }

  /** Word-level n-grams of a text column (NON-distinct; texts shorter
    * than n fall back to one whole-text gram). Single source of truth for
    * gram construction — every operator and hand-matched oracle derives
    * from this definition; [[graft.functions.MinHashSig]] walks the same
    * grams as byte ranges. The split is bound once per row as the
    * argument of a one-element `transform`, so the gram lambda reads a
    * lambda variable instead of re-splitting the text per gram.
    */
  def ngrams(textCol: Column, n: Int): Column =
    element_at(transform(array(split(textCol, " ")),
      ws => ngramsOfWords(ws, n)), 1)

  /** [[ngrams]] over an already-tokenized words array: gram i is the
    * words i … i+n−1 joined by one space, so over a split on " " it is
    * the byte range of those words in the text. `ws` is referenced once
    * per gram, so it must be cheap to re-read — a column (a materialized
    * `_ws`) or a lambda variable, never `split(…)` itself, which would
    * re-tokenize the row once per gram.
    */
  def ngramsOfWords(ws: Column, n: Int): Column =
    when(size(ws) >= n,
      transform(sequence(lit(1), size(ws) - n + 1),
        i => concat_ws(" ", slice(ws, i, lit(n)))))
      .otherwise(array(concat_ws(" ", ws)))

  /** Word-level n-gram shingles of a text column (deduplicated). */
  def shingles(textCol: Column, n: Int): Column = array_distinct(ngrams(textCol, n))

  /** Exploded (id, shingle) inverted index with a document-frequency cap:
    * shingles present in more than `dfCap` documents are dropped from the
    * universe before ANY pairwise work. A single boilerplate n-gram shared
    * by 10^5 docs would otherwise contribute 10^10 rows to the inverted-
    * index self-join — the cap bounds every shingle's contribution at
    * dfCap² and de-skews the join key. The cap is part of the operator's
    * semantics (Jaccard over the non-ubiquitous shingle universe) and is
    * mirrored in the DuckDB oracle. `dfCap ≤ 0` disables the cap.
    * One window shuffle by shingle; the downstream self-join reuses that
    * partitioning.
    */
  def shingleIndex(df: DataFrame, textCol: String, idCol: String,
                   shingleN: Int, dfCap: Int): DataFrame = {
    // tokenize once: inlining shingles(textCol) would re-split the text
    // per reference inside the gram builder
    val sh = spreadIfNarrow(df, col(idCol))
      .withColumn("_ws", split(col(textCol), " "))
      .select(col(idCol).as("id"),
        explode(array_distinct(ngramsOfWords(col("_ws"), shingleN))).as("s"))
    if (dfCap <= 0) sh
    else sh.withColumn("df", count(lit(1)).over(Window.partitionBy(col("s"))))
      .filter(col("df") <= dfCap).drop("df")
  }

  /** Exact dedup: group by content hash, keep the smallest id (the
    * deterministic analog of dropDuplicates' arbitrary winner). Returns
    * one row per distinct content: (keeper id, dup_count, content md5).
    */
  def exact(df: DataFrame, textCol: String, idCol: String): DataFrame =
    df.select(col(idCol), md5(col(textCol).cast("binary")).as("content_md5"))
      .groupBy(col("content_md5"))
      .agg(min(col(idCol)).as("keeper_id"), count(lit(1)).as("dup_count"))

  /** Incremental (cross-corpus) exact dedup: dedupe an incoming batch
    * against an existing corpus — the daily-crawl-vs-historical-index
    * pattern. Both sides reduce to content hashes BEFORE the anti-join,
    * so the shuffle carries (hash, id) pairs only, never payloads; at
    * 100 TB the "existing" side is a persisted hash index, not a re-scan.
    * Returns the incoming batch's keepers whose content is genuinely new.
    */
  def incrementalExact(incoming: DataFrame, existing: DataFrame,
                       textCol: String, idCol: String): DataFrame = {
    val existingHashes = existing
      .select(md5(col(textCol).cast("binary")).as("content_md5")).distinct()
    exact(incoming, textCol, idCol)
      .join(existingHashes, Seq("content_md5"), "left_anti")
  }

  /** Bloom-pre-filtered incremental dedup — same contract as
    * [[incrementalExact]], different data movement. A Bloom filter over
    * the existing corpus's content hashes (one treeAggregate; ~1.2
    * bytes/item at 1% fpp) is broadcast, and bloom-negative incoming
    * docs — provably new — skip the anti-join entirely. Only
    * bloom-positive rows (true dups + fpp false positives) continue to
    * the exact anti-join, which restores exactness. For a mostly-novel
    * daily batch against a 10^9-doc index, the anti-join's shuffle
    * shrinks from the whole batch to ~dup_rate + fpp of it.
    */
  def incrementalExactBloom(incoming: DataFrame, existing: DataFrame,
                            textCol: String, idCol: String,
                            expectedItems: Long, fpp: Double = 0.01): DataFrame = {
    // materialize the distinct index hashes ONCE: the bloom build (an
    // eager action) and the later residual anti-join both read the
    // checkpointed hashes instead of re-scanning + re-shuffling the
    // full existing corpus per action
    val existingHashes = existing
      .select(md5(col(textCol).cast("binary")).as("content_md5")).distinct()
      .localCheckpoint()
    // Spark's stat.bloomFilter NPEs on an empty input (null aggregate
    // buffer); an empty index means everything is novel anyway
    if (existingHashes.isEmpty) return exact(incoming, textCol, idCol)
    val bloom = existingHashes.stat.bloomFilter("content_md5", expectedItems, fpp)
    val bc = incoming.sparkSession.sparkContext.broadcast(bloom)
    // null text → null hash: provably absent from the index (same as the
    // plain path, where a null join key never matches the anti-join)
    val mightContain = udf((h: String) => h != null && bc.value.mightContainString(h))
    val hashed = exact(incoming, textCol, idCol)
    val novel = hashed.filter(!mightContain(col("content_md5")))
    val residual = hashed.filter(mightContain(col("content_md5")))
      .join(existingHashes, Seq("content_md5"), "left_anti")
    novel.unionByName(residual)
  }

  /** Incremental NEAR-dup admission — the daily-crawl question d07
    * answers for exact content, asked at near-dup granularity: which
    * incoming documents near-duplicate something ALREADY in the corpus?
    * Batch and existing sides get kernel MinHash signatures
    * ([[minhashSigKernel]] — per-row, so the existing side's signatures
    * are exactly what a production system precomputed when each doc was
    * admitted); candidates come from banding the BATCH against the
    * EXISTING side's band buckets only — never batch×batch (that is
    * [[minhashLsh]] on the batch) and never existing×existing (already
    * settled when those docs were admitted) — then exact Jaccard
    * verification over the uncapped shingle sets (the kernel contract,
    * as d13).
    *
    * Movement at 100 TB: the existing side's (band, band_hash, id)
    * table IS the index — computed once, bucket-stored by (band, hash);
    * per batch only the batch's own band rows shuffle against it, and
    * verification joins shingles for CANDIDATE docs only (semi-joined
    * first), so cost tracks the candidate set, not the corpus. Over-cap
    * EXISTING buckets are dropped (ubiquitous-content detector, d03's
    * cap argument); batch-side buckets need no cap — each batch row
    * meets at most cap existing members per band.
    */
  def incrementalMinhash(batch: DataFrame, existing: DataFrame,
                         textCol: String, idCol: String,
                         k: Int = 32, bands: Int = 8, shingleN: Int = 3,
                         threshold: Double = 0.8,
                         bucketCap: Int = DefaultBucketCap): DataFrame =
    incrementalMinhashIndexed(batch, existing,
      minhashAdmissionIndex(existing, textCol, idCol, k, bands, shingleN, bucketCap),
      textCol, idCol, k, bands, shingleN, threshold)

  // private[graft]: the continuous Loop's delta boundaries write
  // kernel(batch) rows directly (O(delta) lineage, r17) — the same
  // kernel maintainMinhashIndex hands to IndexMaintenance.upsert
  private[graft] def bandedSigs(df: DataFrame, textCol: String, idCol: String,
                         k: Int, bands: Int, shingleN: Int): DataFrame = {
    val rows = k / bands
    val s = df.select(col(idCol).as("id"),
      minhashSigKernel(col(textCol), shingleN, k).as("sig"))
    val bandHashes = array((0 until bands).map(b =>
      graft.functions.PortableHash.md5_64(concat_ws(",",
        transform(slice(col("sig"), b * rows + 1, rows), _.cast("string"))))): _*)
    s.select(col("id"), posexplode(bandHashes)).toDF("id", "band", "band_hash")
  }

  /** The existing side's capped banded index — `incrementalMinhash`'s
    * candidate-generation state, factored out so a continuous-ingest
    * job computes (or loads) it ONCE and checkpoints it across
    * micro-batches instead of re-deriving the existing corpus's
    * signatures per batch. (id, band, band_hash) rows, over-cap buckets
    * already dropped; store bucketed by (band, band_hash) and the
    * per-batch candidate join needs no shuffle on the index side.
    */
  def minhashAdmissionIndex(existing: DataFrame, textCol: String, idCol: String,
                            k: Int = 32, bands: Int = 8, shingleN: Int = 3,
                            bucketCap: Int = DefaultBucketCap): DataFrame =
    cappedIndexView(
      minhashIndexState(existing, textCol, idCol, k, bands, shingleN),
      bucketCap)

  /** The UNCAPPED banded index state — (id, band, band_hash) rows for
    * every document. This, not the capped view, is what an incremental
    * pipeline PERSISTS across corpus versions (d19): capping is not
    * closed under deletion — a bucket over cap in version N can fall
    * back under cap in version N+1 once members are removed, and its
    * rows must REAPPEAR in the serving view, which is only possible if
    * the persisted state still has them. Serve through
    * [[cappedIndexView]]; maintain with [[maintainMinhashIndex]].
    */
  def minhashIndexState(corpus: DataFrame, textCol: String, idCol: String,
                        k: Int = 32, bands: Int = 8,
                        shingleN: Int = 3): DataFrame =
    bandedSigs(corpus, textCol, idCol, k, bands, shingleN)

  /** The capped serving view over an (id, band, band_hash) index state:
    * over-cap buckets dropped wholesale (d03's ubiquitous-content cap
    * argument). One window count per (band, bucket) partition — the
    * state is already bucket-keyed, so no extra shuffle when it is
    * stored bucketed by (band, band_hash).
    */
  def cappedIndexView(state: DataFrame,
                      bucketCap: Int = DefaultBucketCap): DataFrame =
    state.withColumn("sz", count(lit(1)).over(
        Window.partitionBy(col("band"), col("band_hash"))))
      .filter(col("sz") <= bucketCap).drop("sz")

  /** d19: near-dup index MAINTENANCE across corpus versions — the
    * admission index (d16) kept current under document adds, CHANGES,
    * and REMOVES without rebuilding it from the corpus. Inputs: the
    * persisted uncapped state ([[minhashIndexState]] of version N), the
    * [[snapshotDiff]] of N → N+1 (columns id/status), and the N+1
    * corpus (read ONLY for delta docs — see below). Returns the N+1
    * state; contract (spec-asserted AND hash-oracled via the gate's
    * rebuild oracle): maintained state ≡ `minhashIndexState(V_{N+1})`
    * row-for-row, hence `cappedIndexView` of it ≡ the rebuilt admission
    * index.
    *
    * Movement at 100 TB: ONE anti-join of the state against the
    * touched-id set (removed ∪ changed — delta-sized, broadcastable)
    * plus the shingle/signature pass over DELTA docs only (added ∪
    * changed, selected by a hash-only semi-join); the unchanged corpus
    * is never re-shingled, never even read — the spec proves it by
    * corrupting unchanged docs' text in the passed corpus and getting
    * the correct index anyway.
    */
  def maintainMinhashIndex(state: DataFrame, diff: DataFrame,
                           newCorpus: DataFrame,
                           textCol: String, idCol: String,
                           k: Int = 32, bands: Int = 8,
                           shingleN: Int = 3): DataFrame =
    IndexMaintenance.upsert(state, diff, newCorpus, idCol)(
      bandedSigs(_, textCol, idCol, k, bands, shingleN))

  /** [[incrementalMinhash]] with the existing side's banded index
    * supplied by the caller (see [[minhashAdmissionIndex]]) — the
    * production continuous-ingest form: per batch, only the batch's own
    * band rows join the precomputed index, and exact verification still
    * reads existing TEXT for candidate docs only (semi-joined first).
    */
  def incrementalMinhashIndexed(batch: DataFrame, existing: DataFrame,
                                index: DataFrame,
                                textCol: String, idCol: String,
                                k: Int = 32, bands: Int = 8, shingleN: Int = 3,
                                threshold: Double = 0.8): DataFrame = {
    val exB = index
    // three verification consumers read the candidate set — cache it
    // lazily (r18) so the banded join runs once per action, not thrice
    val cands = bandedSigs(batch, textCol, idCol, k, bands, shingleN).as("n")
      .join(exB.as("e"),
        col("n.band") === col("e.band") &&
        col("n.band_hash") === col("e.band_hash"))
      .select(col("n.id").as("id_new"), col("e.id").as("id_existing"))
      .distinct()
      .localCheckpoint(false)
    // exact verify over UNCAPPED distinct shingle sets, candidate docs
    // only: the semi-join runs BEFORE the shingle explode (r18 — the
    // pre-r18 shape exploded every document and filtered the rows
    // after, which re-shingled the WHOLE existing corpus per call; per
    // micro-batch in q106. Semi-join on id commutes with the per-row
    // explode, so the row set is identical.)
    def sh(df: DataFrame, keep: DataFrame) = df
      .select(col(idCol).as("id"), col(textCol))
      .join(keep, Seq("id"), "left_semi")
      .select(col("id"), explode(shingles(col(textCol), shingleN)).as("s"))
    val shNew = sh(batch, cands.select(col("id_new").as("id")))
    val shEx = sh(existing, cands.select(col("id_existing").as("id")))
    val common = cands
      .join(shNew.as("sa"), col("id_new") === col("sa.id"))
      .join(shEx.as("sb"),
        col("id_existing") === col("sb.id") && col("sa.s") === col("sb.s"))
      .groupBy(col("id_new"), col("id_existing")).agg(count(lit(1)).as("common"))
    common
      .join(shNew.groupBy(col("id")).agg(count(lit(1)).as("n")).as("n1"),
        col("id_new") === col("n1.id"))
      .join(shEx.groupBy(col("id")).agg(count(lit(1)).as("n")).as("n2"),
        col("id_existing") === col("n2.id"))
      .withColumn("jaccard",
        col("common") / (col("n1.n") + col("n2.n") - col("common")))
      .filter(col("jaccard") >= threshold)
      .select(col("id_new"), col("id_existing"),
              round(col("jaccard"), 6).as("jaccard"))
  }

  /** Corpus snapshot diff: classify every document across two corpus
    * versions as added / removed / changed / unchanged — the primitive an
    * incremental pipeline runs nightly to decide what to re-process
    * (re-embed, re-tokenize, re-shard) instead of re-reading 100 TB. Both
    * sides reduce to (id, content md5) BEFORE the full-outer join, so the
    * shuffle carries 2 small columns per row, never payloads; with both
    * snapshots bucketed by id the join needs no shuffle at all. Output:
    * one row per id in either snapshot, with both hashes nullable.
    */
  def snapshotDiff(oldDf: DataFrame, newDf: DataFrame,
                   textCol: String, idCol: String): DataFrame = {
    def hashed(df: DataFrame, as: String) = df.select(
      col(idCol).as("id"), md5(col(textCol).cast("binary")).as(as))
    hashed(oldDf, "old_md5").join(hashed(newDf, "new_md5"), Seq("id"), "full_outer")
      .withColumn("status",
        when(col("old_md5").isNull, lit("added"))
          .when(col("new_md5").isNull, lit("removed"))
          .when(col("old_md5") === col("new_md5"), lit("unchanged"))
          .otherwise(lit("changed")))
  }

  /** MinHash signatures: k independent min-hashes over the shingle set.
    * One explode + one hash-aggregate; signature width k costs k codegen'd
    * min() aggregates, not k passes.
    */
  def minhashSignatures(df: DataFrame, textCol: String, idCol: String,
                        k: Int = 32, shingleN: Int = 3,
                        dfCap: Int = DefaultDfCap): DataFrame =
    signaturesFromIndex(shingleIndex(df, textCol, idCol, shingleN, dfCap), k)

  /** Per-row MinHash signature as a single Column kernel (no document-
    * frequency cap — that is a corpus-level statistic a scalar can't see;
    * use [[minhashSignatures]] when the capped universe is wanted). Same
    * [[graft.functions.PortableHash]] family as the index path, but the
    * k minima fold inside one codegen'd expression
    * ([[graft.functions.MinHashSig]]: one tokenization, one MD5 per gram,
    * one loop over the k derived hashes): ZERO shuffle to compute every
    * signature in the corpus, which is also what makes it registrable as
    * the SQL function `graft_minhash_sig`. Null for texts with no
    * shingles is impossible by construction ([[ngrams]] falls back to the
    * whole text, a null text to the empty gram), so the output is always
    * a k-long array.
    */
  def minhashSigKernel(textCol: Column, shingleN: Int, k: Int): Column =
    graft.functions.MinHashSig(textCol, shingleN, k)

  private def signaturesFromIndex(idx: DataFrame, k: Int): DataFrame = {
    import graft.functions.PortableHash
    // ONE md5 per shingle row; the k min-hash functions are derived
    // arithmetically (mod 2³¹−1) — cheaper than k independent hashes AND
    // exactly replicable by the oracle
    idx.withColumn("hb", PortableHash.md5_64(col("s")) % PortableHash.Mod31)
      .groupBy(col("id"))
      .agg(array((0 until k).map(i => min(PortableHash.derived(col("hb"), i))): _*).as("sig"))
  }

  /** MinHash + LSH candidate pairs: signatures banded into `bands` groups
    * of `k/bands` rows; docs sharing any band-hash become candidates.
    * The bucket join shuffles only (band, bandHash, id) tuples. Buckets
    * larger than `bucketCap` are dropped before the self-join — an
    * oversized bucket means near-universal content (the band hash has
    * degenerated into a ubiquitous-shingle detector) and would contribute
    * O(bucket²) candidate pairs.
    */
  def minhashCandidates(sigs: DataFrame, k: Int, bands: Int,
                        bucketCap: Int = DefaultBucketCap): DataFrame = {
    val rows = k / bands
    // per-band hash = portable hash of the band's signature slice as a
    // canonical comma-joined string (band separation comes from the join
    // condition on the band index)
    val bandHashes = array((0 until bands).map(b =>
      graft.functions.PortableHash.md5_64(concat_ws(",",
        transform(slice(col("sig"), b * rows + 1, rows), _.cast("string"))))): _*)
    val banded = sigs.select(col("id"), posexplode(bandHashes))
      .toDF("id", "band", "band_hash")
      .withColumn("sz", count(lit(1)).over(
        Window.partitionBy(col("band"), col("band_hash"))))
      .filter(col("sz") <= bucketCap).drop("sz")
    val a = banded.as("a")
    val b = banded.as("b")
    a.join(b, col("a.band") === col("b.band") &&
             col("a.band_hash") === col("b.band_hash") &&
             col("a.id") < col("b.id"))
      .select(col("a.id").as("id1"), col("b.id").as("id2"))
      .distinct()
  }

  /** Exact Jaccard on an explicit candidate-pair set: joins each pair back
    * to its shingle sets in the corpus index `idx`, counts the
    * intersection, computes |A∩B|/|A∪B|. The index is semi-joined down to
    * candidate ids first, so verification cost tracks the candidate set,
    * not the corpus.
    */
  private def verifyWithIndex(idx: DataFrame, candidates: DataFrame,
                              threshold: Double): DataFrame = {
    val candIds = candidates.select(col("id1").as("id"))
      .union(candidates.select(col("id2").as("id"))).distinct()
    // DF cap was computed over the FULL corpus (universe semantics); the
    // index is only now cut down to candidate docs
    val sh = idx.join(candIds, Seq("id"), "left_semi")
    val sizes = sh.groupBy(col("id")).agg(count(lit(1)).as("n"))
    val common = candidates
      .join(sh.as("sa"), col("id1") === col("sa.id"))
      .join(sh.as("sb"), col("id2") === col("sb.id") && col("sa.s") === col("sb.s"))
      .groupBy(col("id1"), col("id2")).agg(count(lit(1)).as("common"))
    common
      .join(sizes.as("n1"), col("id1") === col("n1.id"))
      .join(sizes.as("n2"), col("id2") === col("n2.id"))
      .withColumn("jaccard",
        col("common") / (col("n1.n") + col("n2.n") - col("common")))
      .filter(col("jaccard") >= threshold)
      .select(col("id1"), col("id2"), round(col("jaccard"), 6).as("jaccard"))
  }

  /** Full MinHash-LSH near-dup pipeline: signatures → banded candidates →
    * exact-Jaccard verification. False negatives bounded by the (k, bands)
    * S-curve; false positives eliminated by verification.
    */
  def minhashLsh(df: DataFrame, textCol: String, idCol: String,
                 k: Int = 32, bands: Int = 8, shingleN: Int = 3,
                 threshold: Double = 0.8, dfCap: Int = DefaultDfCap,
                 bucketCap: Int = DefaultBucketCap): DataFrame = {
    // the capped index feeds signatures AND verification (4 consumers in
    // the final plan). ReuseExchange only dedupes the exchange input —
    // every consumer still re-runs the explode+window+hash work above it —
    // so materialize the small (id, shingle) rows ONCE with
    // localCheckpoint. (persist() instead would insert an
    // InMemoryRelation columnar build that measured slower.)
    val idx = shingleIndex(df, textCol, idCol, shingleN, dfCap).localCheckpoint()
    val cands = minhashCandidates(signaturesFromIndex(idx, k), k, bands, bucketCap)
    verifyWithIndex(idx, cands, threshold)
  }

  /** Exact all-pairs n-gram Jaccard above a threshold, via shingle-inverted
    * index join (no LSH approximation; the join on shingle value IS the
    * candidate generation — only docs sharing ≥1 shingle ever meet).
    * The DF cap (see [[shingleIndex]]) bounds the join's per-key fan-out.
    */
  def jaccardPairs(df: DataFrame, textCol: String, idCol: String,
                   shingleN: Int = 3, threshold: Double = 0.8,
                   dfCap: Int = DefaultDfCap): DataFrame = {
    // referenced by both self-join sides and the size table — materialize
    // the (id, shingle) rows once (see minhashLsh's note; ReuseExchange
    // alone still re-runs the window/cap work per consumer)
    val sh = shingleIndex(df, textCol, idCol, shingleN, dfCap).localCheckpoint()
    val sizes = sh.groupBy(col("id")).agg(count(lit(1)).as("n"))
    val common = sh.as("a").join(sh.as("b"),
        col("a.s") === col("b.s") && col("a.id") < col("b.id"))
      .groupBy(col("a.id"), col("b.id")).agg(count(lit(1)).as("common"))
      .toDF("id1", "id2", "common")
    common
      .join(sizes.as("n1"), col("id1") === col("n1.id"))
      .join(sizes.as("n2"), col("id2") === col("n2.id"))
      .withColumn("jaccard", col("common") / (col("n1.n") + col("n2.n") - col("common")))
      .filter(col("jaccard") >= threshold)
      .select(col("id1"), col("id2"), round(col("jaccard"), 6).as("jaccard"))
  }

  /** Near-dup CLUSTERING: pairs → connected components → keeper. What a
    * real dedup pipeline emits is not a pair list but a per-document
    * cluster assignment (keeper = the component's minimum id, matching
    * [[exact]]'s deterministic winner).
    *
    * Algorithm: iterative min-label propagation over the undirected pair
    * graph — each round every node takes the min label among itself and
    * its neighbors; converges in O(component diameter) rounds (near-dup
    * components are small, dense clusters, so typically 1–3). Each round
    * is one join + one hash-aggregate, both shuffled by node id, so rounds
    * reuse the same partitioning at scale; labels are persisted per round
    * and lineage-truncated so the plan doesn't grow with iterations.
    * Returns (id, component).
    */
  def connectedComponents(pairs: DataFrame, maxIter: Int = 20): DataFrame = {
    // materialize the (usually expensive) pair lineage exactly ONCE — the
    // union below and every loop round then read the checkpointed rows
    val p = pairs.select(col("id1"), col("id2")).localCheckpoint()
    val edges = p.select(col("id1").as("a"), col("id2").as("b"))
      .union(p.select(col("id2").as("a"), col("id1").as("b")))
    var labels = edges.select(col("a").as("id")).distinct()
      .withColumn("component", col("id"))
    var converged = false
    var i = 0
    while (!converged && i < maxIter) {
      val nbrMin = edges.join(labels, edges("b") === labels("id"))
        .groupBy(col("a")).agg(min(col("component")).as("nbr_min"))
      val updated = labels.join(nbrMin, labels("id") === nbrMin("a"), "left")
        .select(col("id"), col("component"),
          least(col("component"), coalesce(col("nbr_min"), col("component")))
            .as("next"))
        .localCheckpoint() // truncate lineage so round N's plan is O(1)
      // convergence check reads the checkpointed rows — no recompute
      converged = updated.filter(col("next") < col("component")).isEmpty
      labels = updated.select(col("id"), col("next").as("component"))
      i += 1
    }
    labels
  }

  /** SimHash over word hashes: per bit j, sign of Σ(±1) across the token
    * multiset. 64 codegen'd conditional sums in ONE aggregate pass — no
    * per-row loops, no UDFs. (The portable word hash carries 60 effective
    * bits, so the top 4 simhash bits are constant-zero — harmless for
    * Hamming distances.)
    */
  def simhash(df: DataFrame, textCol: String, idCol: String): DataFrame = {
    // measured r17: a spreadIfNarrow here read consistently SLOWER
    // in-suite (+0.4–0.7 s on d04 across two full bench runs) — the
    // explode already fans out cheaply and the 64-bit vote aggregate's
    // map-side combine is not the gate's floor; left unspread.
    val tok = df.select(col(idCol).as("id"), explode(split(col(textCol), " ")).as("w"))
      .withColumn("h", graft.functions.PortableHash.md5_64(col("w")))
    simhashFromHashes(tok)
  }

  /** The SimHash vote aggregate over a pre-hashed feature stream
    * (`id`, `h`) — shared by the word-level [[simhash]] and the media
    * byte-shingle hash ([[Multimodal.perceptualHash]]); the feature
    * extractor is the only thing that differs between them.
    */
  private[operators] def simhashFromHashes(tok: DataFrame): DataFrame = {
    val bitSums = (0 until 64).map { j =>
      sum(when(shiftright(col("h"), j).bitwiseAND(1) === 1, 1).otherwise(-1)).as(s"b$j")
    }
    val agg = tok.groupBy(col("id")).agg(bitSums.head, bitSums.tail: _*)
    val fingerprint = (0 until 64).foldLeft(lit(0L)) { (acc, j) =>
      acc.bitwiseOR(when(col(s"b$j") > 0, lit(1L << j)).otherwise(lit(0L)))
    }
    agg.select(col("id"), fingerprint.as("simhash"))
  }

  /** SimHash near-dup pairs with Hamming distance ≤ maxDist, banded on
    * 16-bit chunks (pigeonhole: distance ≤ 3 ⇒ some chunk of 4 matches
    * exactly), then verified with bit_count(xor). Fixed 4×16 banding is
    * the oracle-replayable shape; a corpus of mostly-UNIQUE fingerprints
    * large enough to saturate 16-bit buckets should band via
    * [[hammingPairsAuto]] instead (dense near-dup corpora gain nothing
    * from wider bands — the distinct-first join inside [[hammingPairs]]
    * is the lever there, and both paths share it).
    */
  def simhashPairs(df: DataFrame, textCol: String, idCol: String,
                   maxDist: Int = 3, bucketCap: Int = DefaultBucketCap): DataFrame =
    hammingPairs(simhash(df, textCol, idCol), "id", "simhash",
      maxDist, bucketCap)

  /** Banded Hamming-≤-maxDist pairs over ANY precomputed 64-bit hash
    * column (SimHash fingerprints, media perceptual hashes, …):
    * pigeonhole on `nChunks` disjoint `chunkBits`-bit chunks — distance
    * ≤ nChunks−1 guarantees some chunk matches exactly, so banding is
    * LOSSLESS at that radius — then exact verify via bit_count(xor).
    *
    * The banded self-join runs over DISTINCT hash values, not ids: with
    * duplication factor f (rows per distinct hash), candidate and
    * verify work shrink f² versus id-level banding, which is what kept a
    * near-dup-saturated corpus quadratic — measured on the 4× probe
    * corpus, 20k docs hold only 13k distinct phashes and the densest
    * bucket 4.4k ids but far fewer distinct values. Verified hash pairs
    * are then expanded back to id pairs (cross of the two id groups,
    * plus the distance-0 pairs inside each group) — output-sized work,
    * irreducible. Data movement is one (chunk, chunk_val) shuffle of
    * the distinct-hash table plus the h64-keyed expansion joins; text
    * payloads never move. Over-cap buckets are dropped like LSH's (cap
    * counts DISTINCT hashes per bucket).
    */
  def hammingPairs(hashes: DataFrame, idCol: String, hashCol: String,
                   maxDist: Int = 3, bucketCap: Int = DefaultBucketCap,
                   nChunks: Int = 4, chunkBits: Int = 16): DataFrame = {
    require(maxDist <= nChunks - 1,
      s"banding on $nChunks chunks is only lossless for distance <= ${nChunks - 1}")
    val mask = (1L << chunkBits) - 1
    val base = hashes.select(col(idCol).as("id"), col(hashCol).as("h64"))
    val chunkVals = array((0 until nChunks).map(c =>
      shiftright(col("h64"), c * chunkBits).bitwiseAND(mask)): _*)
    val chunked = base.select(col("h64")).distinct()
      .select(col("h64"), posexplode(chunkVals))
      .toDF("h64", "chunk", "chunk_val")
      .withColumn("sz", count(lit(1)).over(
        Window.partitionBy(col("chunk"), col("chunk_val"))))
      .filter(col("sz") <= bucketCap).drop("sz")
    val hashPairs = chunked.as("a").join(chunked.as("b"),
        col("a.chunk") === col("b.chunk") &&
        col("a.chunk_val") === col("b.chunk_val") &&
        col("a.h64") < col("b.h64"))
      .select(col("a.h64").as("h1"), col("b.h64").as("h2"))
      .distinct()
      .withColumn("hamming", bit_count(col("h1").bitwiseXOR(col("h2"))))
      .filter(col("hamming") <= maxDist)
    expandHashPairs(base, hashPairs)
  }

  /** Expand verified DISTINCT-hash pairs (h1 < h2, hamming ≤ radius)
    * back to id pairs: cross the two hash groups, and add the
    * distance-0 pairs within each multi-member group. Output-sized —
    * every emitted row is an answer row.
    */
  private def expandHashPairs(base: DataFrame, hashPairs: DataFrame): DataFrame = {
    val cross = hashPairs
      .join(base.as("x"), col("x.h64") === col("h1"))
      .join(base.as("y"), col("y.h64") === col("h2"))
      .select(least(col("x.id"), col("y.id")).as("id1"),
              greatest(col("x.id"), col("y.id")).as("id2"),
              col("hamming").cast("long").as("hamming"))
    val intra = base.as("x").join(base.as("y"),
        col("x.h64") === col("y.h64") && col("x.id") < col("y.id"))
      .select(col("x.id").as("id1"), col("y.id").as("id2"),
              lit(0L).as("hamming"))
    cross.union(intra)
  }

  /** One-sided banded Hamming admission — [[hammingPairs]]' answer to
    * d16's question for 64-bit fingerprints (media phashes, SimHash):
    * which incoming hashes sit within `maxDist` of something ALREADY in
    * the corpus? Candidates come from joining the batch's distinct-hash
    * chunk table against the EXISTING side's (the precomputable index;
    * over-cap existing buckets drop, batch side needs no cap), verified
    * by exact bit_count. EQUAL hashes — an incoming item byte-identical
    * in fingerprint to an indexed one, the case an admission gate must
    * never lose — bypass the banding through a direct cap-free h64
    * equi-join (output-sized, the [[hammingPairs]] intra/cross split
    * one-sided). Output (id_new, id_existing, hamming); never pairs
    * within a side.
    */
  def hammingPairsAgainst(batch: DataFrame, existing: DataFrame,
                          idCol: String, hashCol: String,
                          maxDist: Int = 3, bucketCap: Int = DefaultBucketCap,
                          nChunks: Int = 4, chunkBits: Int = 16): DataFrame = {
    require(maxDist <= nChunks - 1,
      s"banding on $nChunks chunks is only lossless for distance <= ${nChunks - 1}")
    val mask = (1L << chunkBits) - 1
    def base(df: DataFrame) =
      df.select(col(idCol).as("id"), col(hashCol).as("h64"))
    def chunked(b: DataFrame) = {
      val chunkVals = array((0 until nChunks).map(c =>
        shiftright(col("h64"), c * chunkBits).bitwiseAND(mask)): _*)
      b.select(col("h64")).distinct()
        .select(col("h64"), posexplode(chunkVals))
        .toDF("h64", "chunk", "chunk_val")
    }
    val bn = base(batch)
    val be = base(existing)
    val exChunks = chunked(be)
      .withColumn("sz", count(lit(1)).over(
        Window.partitionBy(col("chunk"), col("chunk_val"))))
      .filter(col("sz") <= bucketCap).drop("sz")
    val hashPairs = chunked(bn).as("n").join(exChunks.as("e"),
        col("n.chunk") === col("e.chunk") &&
        col("n.chunk_val") === col("e.chunk_val") &&
        col("n.h64") =!= col("e.h64"))
      .select(col("n.h64").as("hn"), col("e.h64").as("he"))
      .distinct()
      .withColumn("hamming", bit_count(col("hn").bitwiseXOR(col("he"))))
      .filter(col("hamming") <= maxDist)
    val cross = hashPairs
      .join(bn.as("x"), col("x.h64") === col("hn"))
      .join(be.as("y"), col("y.h64") === col("he"))
      .select(col("x.id").as("id_new"), col("y.id").as("id_existing"),
              col("hamming").cast("long").as("hamming"))
    val equal = bn.as("x").join(be.as("y"), col("x.h64") === col("y.h64"))
      .select(col("x.id").as("id_new"), col("y.id").as("id_existing"),
              lit(0L).as("hamming"))
    cross.union(equal)
  }

  /** Smallest block count whose banding keys keep the EXPECTED bucket
    * size (n / 2^keyBits, uniform-hash heuristic) at or under
    * `targetBucket`. With `m` blocks a ≤`maxDist` pair agrees exactly on
    * at least `r = m − maxDist` blocks, so the key is any r-subset of
    * blocks — keyBits grows as `r · (64/m)` while the per-row fan-out
    * grows as C(m, r); search stops at maxDist+3 (56 keys/row for
    * maxDist=5), past which caps are the better tool. Pure function so
    * the derivation is spec-testable without building a corpus.
    */
  def hammingBlocksFor(n: Long, maxDist: Int, targetBucket: Int = 64): Int =
    (maxDist + 1 to maxDist + 3).find { m =>
      val keyBits = math.min((m - maxDist) * (64 / m), 62)
      (n >> keyBits) <= targetBucket
    }.getOrElse(maxDist + 3)

  /** [[hammingPairs]] with the band width derived from the corpus count:
    * one count() of the hash table picks [[hammingBlocksFor]]'s block
    * count, so buckets stop cap-saturating as the corpus grows (fixed
    * 10-bit buckets degrade to near-pairwise-within-cap at 200k+ rows).
    * `nBlocks == maxDist+1` delegates to the plain disjoint-chunk path
    * (bit-identical to the oracled m06/d04 shape); wider block counts
    * use [[hammingPairsBlocks]]'s combination keys — both are LOSSLESS
    * to `maxDist` by the same pigeonhole argument.
    */
  def hammingPairsAuto(hashes: DataFrame, idCol: String, hashCol: String,
                       maxDist: Int = 3, bucketCap: Int = DefaultBucketCap,
                       targetBucket: Int = 64): DataFrame = {
    // materialize the (id, hash) table once: the sizing count() and the
    // banded join both read the checkpoint instead of re-running the
    // fingerprint kernel over the corpus
    val mat = hashes.select(col(idCol).as("id"), col(hashCol).as("h64"))
      .localCheckpoint()
    val m = hammingBlocksFor(mat.count(), maxDist, targetBucket)
    if (m == maxDist + 1)
      hammingPairs(mat, "id", "h64", maxDist, bucketCap,
        nChunks = m, chunkBits = 64 / m)
    else hammingPairsBlocks(mat, "id", "h64", maxDist, bucketCap, m)
  }

  /** Banded Hamming-≤-maxDist pairs on COMBINATION keys (Manku et al.,
    * WWW'07 §3): split the 64-bit hash into `nBlocks` near-equal blocks;
    * a pair within distance d differs in at most d blocks, so it agrees
    * exactly on some `r = nBlocks − maxDist` of them — every r-subset of
    * blocks becomes a (combo, folded-block-values) join key, which
    * multiplies key bits by r without narrowing the lossless radius.
    * Fan-out is C(nBlocks, r) rows per input row; data movement is still
    * only (combo, key, h64) over distinct hashes — payloads never
    * shuffle.
    */
  def hammingPairsBlocks(hashes: DataFrame, idCol: String, hashCol: String,
                         maxDist: Int, bucketCap: Int, nBlocks: Int): DataFrame = {
    require(nBlocks >= maxDist + 1,
      s"banding on $nBlocks blocks is only lossless for distance <= ${nBlocks - 1}")
    require(nBlocks <= 16, "more than 16 blocks explodes the combo fan-out")
    val bounds = (0 to nBlocks).map(c => c * 64 / nBlocks)
    def blockVal(c: Int): Column = {
      val lo = bounds(c)
      val w = bounds(c + 1) - lo
      shiftright(col("h64"), lo).bitwiseAND(lit((1L << w) - 1))
    }
    val r = nBlocks - maxDist
    val combos = (0 until nBlocks).combinations(r).toIndexedSeq
    // fold block values into ONE long join key per combo; worst case
    // maxDist+3 blocks → r·(64/nBlocks) ≤ 30 key bits. Blocks have
    // near-equal but VARIABLE widths, so folded keys from different
    // combos can collide numerically — the combo index therefore stays a
    // SEPARATE column: buckets cap per (combo, key) and the self-join
    // matches on both, so a cross-combo collision can neither merge two
    // unrelated buckets past the cap nor add spurious candidates. The
    // lossless guarantee rides on same-combo matches, which (combo, key)
    // equality preserves exactly.
    val keys = array(combos.indices.map { j =>
      combos(j).foldLeft(lit(0L): Column) { (acc, c) =>
        acc * lit(1L << (bounds(c + 1) - bounds(c))) + blockVal(c)
      }
    }: _*)
    val base = hashes.select(col(idCol).as("id"), col(hashCol).as("h64"))
    val keyed = base.select(col("h64")).distinct()
      .select(col("h64"), posexplode(keys))
      .toDF("h64", "combo", "key")
      .withColumn("sz", count(lit(1)).over(
        Window.partitionBy(col("combo"), col("key"))))
      .filter(col("sz") <= bucketCap).drop("sz")
    val hashPairs = keyed.as("a").join(keyed.as("b"),
        col("a.combo") === col("b.combo") &&
        col("a.key") === col("b.key") && col("a.h64") < col("b.h64"))
      .select(col("a.h64").as("h1"), col("b.h64").as("h2"))
      .distinct()
      .withColumn("hamming", bit_count(col("h1").bitwiseXOR(col("h2"))))
      .filter(col("hamming") <= maxDist)
    expandHashPairs(base, hashPairs)
  }

  /** Sub-document (chunk-level) exact dedup — the scalable stand-in for
    * suffix-array substring dedup: cut each document into consecutive
    * `chunkWords`-word chunks, keep the globally-first occurrence of each
    * distinct chunk (order: doc id, then chunk index), and report per-doc
    * duplication. The shuffle carries (md5(chunk), doc, idx) — 128-bit
    * hashes, never chunk text — and the one window per chunk-hash group
    * is the whole cost; no pairwise work at any scale.
    */
  def chunkDedup(df: DataFrame, textCol: String, idCol: String,
                 chunkWords: Int): DataFrame = {
    val ranked = chunkIndex(df, textCol, idCol, chunkWords)
      .withColumn("rn", row_number().over(
        Window.partitionBy(col("chunk_md5"))
          .orderBy(col("doc_id"), col("chunk_idx"))))
    ranked.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_chunks"),
           sum((col("rn") > 1).cast("long")).as("n_dup_chunks"))
      .withColumn("uniq_ratio",
        round(lit(1.0) - col("n_dup_chunks").cast("double") / col("n_chunks"), 6))
  }

  /** Shared chunking convention ([[chunkDedup]], [[removeBoilerplate]]):
    * consecutive `chunkWords`-word spans from word 0, one row per
    * (doc_id, chunk_idx) with the chunk text and its md5.
    */
  private def chunkIndex(df: DataFrame, textCol: String, idCol: String,
                         chunkWords: Int): DataFrame = {
    val ws = col("_ws") // tokenized once; the chunk builder reads the attribute
    val chunks = transform(
      sequence(lit(0), ceil(size(ws).cast("double") / chunkWords).cast("int") - 1),
      i => concat_ws(" ", slice(ws, i * chunkWords + 1, lit(chunkWords))))
    df.withColumn("_ws", split(col(textCol), " "))
      .select(col(idCol).as("doc_id"), posexplode(chunks))
      .select(col("doc_id"), col("pos").as("chunk_idx"), col("col").as("chunk"),
              md5(col("col").cast("binary")).as("chunk_md5"))
  }

  /** Cross-corpus boilerplate removal: a chunk (consecutive
    * `chunkWords`-word span, [[chunkIndex]] convention) appearing in MORE
    * than `maxDocs` distinct documents is boilerplate — headers, footers,
    * nav text, license blurbs — and is cut from every document's rebuilt
    * text. The CCNet-style sibling of [[chunkDedup]]: dedup keeps the
    * first occurrence, boilerplate removal keeps none.
    *
    * Scale: the same (md5, doc, idx) shuffle as [[chunkDedup]]; the
    * boilerplate set is ONE hash-aggregate (approx_count_distinct-free:
    * the count is per-chunk-hash, map-side combined), removal is a hash
    * join on the chunk hash, and each document is rebuilt by one
    * (doc_id) aggregate that sorts only that document's chunk structs —
    * zero pairwise work, no global sort at any scale.
    */
  def removeBoilerplate(df: DataFrame, textCol: String, idCol: String,
                        chunkWords: Int, maxDocs: Int): DataFrame = {
    val idx = chunkIndex(df, textCol, idCol, chunkWords)
    val boiler = idx.groupBy(col("chunk_md5"))
      .agg(countDistinct(col("doc_id")).as("n_docs"))
      .filter(col("n_docs") > maxDocs)
      .select(col("chunk_md5"), lit(true).as("_boiler"))
    idx.join(boiler, Seq("chunk_md5"), "left")
      .groupBy(col("doc_id"))
      .agg(
        count(lit(1)).as("n_chunks"),
        sum(when(col("_boiler"), 1L).otherwise(0L)).as("n_boiler_chunks"),
        // collect_list skips nulls, so boilerplate chunks never enter the
        // rebuild; array_sort on (chunk_idx, chunk) structs restores
        // document order (chunk_idx is unique per doc)
        array_join(transform(
          array_sort(collect_list(when(col("_boiler").isNull,
            struct(col("chunk_idx"), col("chunk"))))),
          c => c.getField("chunk")), " ").as("clean_text"))
  }

  /** Quality-aware canonical selection over near-dup clusters: each
    * cluster keeps the member with the HIGHEST `scoreCol` (ties → lowest
    * id) as its canonical document; documents outside every cluster are
    * their own canonicals. The curation step after near-dup detection —
    * "keep the best copy", not "keep the lowest id" (which
    * [[connectedComponents]]' label otherwise implies).
    *
    * `scored` carries (idCol, scoreCol); `clusters` is
    * [[connectedComponents]] output (id, component). Scale: one hash
    * join of ids against the (much smaller) cluster labels and ONE
    * window keyed by component — clusters are near-dup sized, so no
    * partition sees more than one cluster's members; no pairwise work
    * beyond what detection already paid.
    */
  /** Leakage-safe train/val split: eval-set contamination happens when a
    * near-duplicate of a training document lands in the validation set,
    * so the split must hash the near-dup CLUSTER id, not the document id
    * — every member of a cluster then lands on the same side by
    * construction. `clusters` is a (id, component) assignment (e.g.
    * [[connectedComponents]] over [[jaccardPairs]]); singleton documents
    * (absent from `clusters`) are their own component. Assignment is a
    * pure hash function of the component — deterministic, re-shardable,
    * no rand(); the join adds one shuffle on the id, the split itself is
    * zero-shuffle column math. Returns (doc_id, component, split).
    */
  def leakageSafeSplit(docs: DataFrame, clusters: DataFrame, idCol: String,
                       trainPct: Int = 90): DataFrame = {
    require(trainPct > 0 && trainPct < 100, "trainPct must be in (0, 100)")
    docs.select(col(idCol).as("doc_id"))
      .join(clusters.select(col("id").as("doc_id"), col("component")),
        Seq("doc_id"), "left")
      .withColumn("component", coalesce(col("component"), col("doc_id")))
      .withColumn("split",
        when(pmod(graft.functions.PortableHash.md5_64(
          col("component").cast("string")), lit(100L)) < trainPct, "train")
          .otherwise("val"))
  }

  def canonicalByScore(scored: DataFrame, clusters: DataFrame,
                       idCol: String, scoreCol: String): DataFrame = {
    val labeled = scored.select(col(idCol).as("id"), col(scoreCol).as("score"))
      .join(clusters.select(col("id"), col("component")), Seq("id"), "left")
      .withColumn("component", coalesce(col("component"), col("id")))
    // ordering puts the winner first, so the running first_value is the
    // cluster's canonical for every member row
    val w = Window.partitionBy(col("component"))
      .orderBy(col("score").desc, col("id").asc)
    labeled.withColumn("canonical_id", first(col("id")).over(w))
      .select(col("id").as("doc_id"), col("score"),
              col("canonical_id"),
              (col("id") === col("canonical_id")).as("is_canonical"))
  }

  // ------------------------------------------------ duplicated spans

  /** Per-doc (doc_id, pos, h) rows: h = portable hash of the `spanTokens`-
    * word shingle starting at token `pos` (0-based). Docs shorter than
    * `spanTokens` contribute no rows — they cannot contain a duplicated
    * span of that length. Shared by [[duplicateSpanStats]] and
    * [[stripDuplicateSpans]].
    */
  private def spanShingles(df: DataFrame, textCol: String, idCol: String,
                           spanTokens: Int): DataFrame = {
    val PH = graft.functions.PortableHash
    df.select(col(idCol).as("doc_id"), split(col(textCol), " ").as("_ws"))
      .filter(size(col("_ws")) >= spanTokens)
      .select(col("doc_id"), posexplode(
        transform(sequence(lit(1), size(col("_ws")) - spanTokens + 1),
          i => PH.md5_64(concat_ws(" ", slice(col("_ws"), i, lit(spanTokens))))))
        .as(Seq("pos", "h")))
  }

  /** Maximal duplicated spans per doc, merged from the surviving
    * positions. Output: (doc_id, spans: array<struct<s,e>>) with s
    * inclusive / e exclusive token indexes, 0-based, sorted, disjoint,
    * non-adjacent. One per-doc fold over that doc's sorted duplicated
    * positions — gaps-and-islands: a position within `spanTokens` of the
    * previous one extends the current island, otherwise it opens a new
    * one.
    */
  /** Empty array<struct<s,e>> literal (array() is void-typed, castable). */
  private def noSpans: Column =
    expr("CAST(array() AS array<struct<s:int,e:int>>)")

  private def mergedSpans(dupPos: DataFrame, spanTokens: Int): DataFrame = {
    val L = spanTokens
    dupPos.groupBy(col("doc_id"))
      .agg(sort_array(collect_list(col("pos"))).as("ps"))
      .select(col("doc_id"), size(col("ps")).cast("long").as("n_dup_pos"),
        aggregate(
          col("ps"),
          struct(noSpans.as("done"), lit(-1).as("s"), lit(-1).as("e")),
          (acc, p) => {
            val open = acc.getField("s") >= 0
            val merge = open && (p <= acc.getField("e"))
            struct(
              when(merge || !open, acc.getField("done"))
                .otherwise(concat(acc.getField("done"),
                  array(struct(acc.getField("s").as("s"), acc.getField("e").as("e")))))
                .as("done"),
              when(merge, acc.getField("s")).otherwise(p).as("s"),
              when(merge, greatest(acc.getField("e"), p + lit(L)))
                .otherwise(p + lit(L)).as("e"))
          },
          acc => when(acc.getField("s") >= 0,
            concat(acc.getField("done"),
              array(struct(acc.getField("s").as("s"), acc.getField("e").as("e")))))
            .otherwise(acc.getField("done"))).as("spans"))
  }

  /** ExactSubstr-style duplicated-span statistics (the criterion of Lee
    * et al. 2021, "Deduplicating Training Data Makes Language Models
    * Better": cut any text span of ≥ `spanTokens` tokens that occurs
    * verbatim more than once in the corpus — across documents or twice
    * in the same one). A token lies in such a span iff it is covered by
    * at least one `spanTokens`-shingle whose hash occurs ≥ 2 times
    * corpus-wide, so the suffix array the paper builds (a global sorted
    * structure no distributed engine should materialize) is replaced by
    * counting shingle-hash multiplicity.
    *
    * Output per doc: token count, duplicated-position count, maximal
    * merged span count, tokens covered by duplicated spans, and the
    * covered ratio.
    *
    * Scale: two shuffles of (h, doc, pos) rows — ~20 bytes each, the
    * text never moves — first a map-side-combined multiplicity count by
    * hash, then a hash semi-join of positions against the duplicated
    * hashes (skew from a ubiquitous shingle is a 1-row join side per
    * key; AQE splits it). The span merge is ONE per-doc aggregate whose
    * state is that doc's own positions — no global sort, no pairwise
    * work at any corpus size.
    */
  def duplicateSpanStats(df: DataFrame, textCol: String, idCol: String,
                         spanTokens: Int): DataFrame = {
    val occ = spanShingles(df, textCol, idCol, spanTokens)
    val dupHashes = occ.groupBy(col("h")).agg(count(lit(1)).as("cnt"))
      .filter(col("cnt") >= 2).select(col("h"))
    val dupPos = occ.join(dupHashes, Seq("h"), "leftsemi")
    val spans = mergedSpans(dupPos, spanTokens)
      .select(col("doc_id"), col("n_dup_pos"),
        size(col("spans")).cast("long").as("n_spans"),
        aggregate(col("spans"), lit(0L),
          (acc, sp) => acc + (sp.getField("e") - sp.getField("s")).cast("long"))
          .as("dup_tokens"))
    df.select(col(idCol).as("doc_id"),
        size(split(col(textCol), " ")).cast("long").as("n_tokens"))
      .join(spans, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_tokens"),
        coalesce(col("n_dup_pos"), lit(0L)).as("n_dup_pos"),
        coalesce(col("n_spans"), lit(0L)).as("n_spans"),
        coalesce(col("dup_tokens"), lit(0L)).as("dup_tokens"),
        round(coalesce(col("dup_tokens"), lit(0L)) / col("n_tokens"), 6)
          .as("dup_ratio"))
  }

  /** ExactSubstr removal: rebuild each document without the tokens inside
    * duplicated spans ([[duplicateSpanStats]] criterion — ALL copies are
    * cut, as in the paper; "keep one copy" is [[chunkDedup]]'s contract).
    * Output: (doc_id, clean_text, n_tokens, dup_tokens). The rebuild is a
    * per-row index filter against that doc's own merged span list —
    * nothing beyond what the stats already paid.
    */
  def stripDuplicateSpans(df: DataFrame, textCol: String, idCol: String,
                          spanTokens: Int): DataFrame = {
    val occ = spanShingles(df, textCol, idCol, spanTokens)
    val dupHashes = occ.groupBy(col("h")).agg(count(lit(1)).as("cnt"))
      .filter(col("cnt") >= 2).select(col("h"))
    val spans = mergedSpans(occ.join(dupHashes, Seq("h"), "leftsemi"), spanTokens)
      .select(col("doc_id"), col("spans"))
    df.select(col(idCol).as("doc_id"), split(col(textCol), " ").as("_ws"))
      .join(spans, Seq("doc_id"), "left")
      .withColumn("spans", coalesce(col("spans"), noSpans))
      .select(col("doc_id"),
        concat_ws(" ", filter(col("_ws"), (_, i) =>
          !exists(col("spans"), sp => i >= sp.getField("s") && i < sp.getField("e"))))
          .as("clean_text"),
        size(col("_ws")).cast("long").as("n_tokens"),
        aggregate(col("spans"), lit(0L),
          (acc, sp) => acc + (sp.getField("e") - sp.getField("s")).cast("long"))
          .as("dup_tokens"))
  }
}
