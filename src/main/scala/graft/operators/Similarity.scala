package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.functions.GraftFunctions.dot

/** Similarity search over embedding columns (Array[Float]).
  *
  * Scale design: brute-force top-k is the exact baseline — a broadcast of
  * the (small) query set against a full scan of the corpus, per-partition
  * heap via window row_number ≤ k after AQE-coalesced shuffle by query id.
  * The scale path is LSH (random-hyperplane signs): corpus and queries
  * bucketed by signature, candidates only within matching buckets — the
  * corpus shuffle is by bucket key, never all-pairs.
  *
  * All inner products run through [[graft.functions.ArrayDotProduct]], a
  * whole-stage-codegen'd kernel — the interpreted higher-order-function
  * route costs ~20× more per pair and dominates any all-pairs stage.
  */
object Similarity {

  /** L2-normalize a float-array embedding column (unit vectors, double
    * arithmetic, cast back to float) — THE ingest step for a
    * cosine-serving quantized index, measured r15
    * (RECALL.json `postRebalanceAdc`): cosine truth is unchanged by
    * normalization, but every L2-trained stage — coarse k-means lists,
    * residual PQ dynamic range, ADC ranking — sees one scale, so
    * norm-skew can neither concentrate the census (the staged collapse
    * reads hottest 256/500 raw vs 31/500 normalized) nor starve the
    * residual quantizer (recall@10 at the production operating point:
    * 0.235 stale-raw / 0.485 even after a full two-stage retrain on
    * the raw skew / 0.920 normalized — the shared PQ codebooks cannot
    * resolve within a 1/64-norm clump, and no listing or retrain fixes
    * what the dynamic range lost). Floored in IvfPqRecallSpec. The
    * rebalance family (s30–s37) remains the tool for CARDINALITY skew
    * — genuinely dense regions, near-duplicate clumps — where
    * normalization is a no-op by construction. Zero vectors pass
    * through as zero (0/0 guarded to 0), matching cosine's convention.
    */
  def l2Normalize(vec: Column): Column = {
    val nrm = sqrt(aggregate(vec, lit(0.0d),
      (a, y) => a + y.cast("double") * y.cast("double")))
    transform(vec, x =>
      when(nrm === 0.0d, lit(0.0f))
        .otherwise((x.cast("double") / nrm).cast("float")))
  }

  /** Fixed-point L2 normalization (s41, r17) — the EXECUTABLE form of
    * the norm-collapse recovery [[NormPolicy]] names, exact enough to
    * hash-oracle: each quantized vector xq = ⌊x·scale⌋ maps to
    * x'ᵢ = ⌊xqᵢ·scale / √(Σxq²)⌋ (all-zero for the zero vector), i.e.
    * unit norm in `scale` micro-units. Determinism argument, the part
    * that makes this the MAINTENANCE form rather than [[l2Normalize]]
    * (whose float-space sum order and re-quantization rounding are
    * engine-dependent): Σxq² is an exact integer under the enforced
    * dim·M² < 2⁵³ bound (every partial sum exact, hence
    * order-independent); xqᵢ·scale is an exact integer product under
    * the enforced M·scale < 2⁵³ bound; √ and ÷ are IEEE
    * correctly-rounded single operations; ⌊·⌋ of the identical double
    * is identical — so DuckDB replays every output integer
    * bit-for-bit. Output: (idCol, vecCol) with vecCol an
    * integer-valued DOUBLE array already in quantized space — feed
    * downstream fixed-point trainers/encoders with scale = 1
    * (⌊x·1⌋ = x, so their internal quantization is the identity).
    * Output magnitudes are ≤ scale, comfortably inside the trainers'
    * own 2⁵³ score bounds at any dim the suite runs.
    */
  def l2NormalizeFixedPoint(df: DataFrame, scale: Long = 1000000L,
                            idCol: String = "vec_id",
                            vecCol: String = "embedding"): DataFrame = {
    val q = quantized(df, scale, idCol, vecCol)
    val b = q.agg(
      max(array_max(transform(col("xd"), x => abs(x)))).as("m"),
      max(size(col("xd"))).as("dim")).head()
    if (!b.isNullAt(0)) {
      val (m, dim) = (b.getDouble(0), b.getInt(1))
      require(m * m * math.max(dim, 1) < math.pow(2, 53),
        f"l2NormalizeFixedPoint: quantized magnitude $m%.0f at " +
          f"dim=$dim (scale=$scale) overflows the 2^53-exact Σx² — " +
          "lower the scale")
      require(m * scale.toDouble < math.pow(2, 53),
        f"l2NormalizeFixedPoint: $m%.0f·$scale overflows the " +
          "2^53-exact numerator — lower the scale")
    }
    q.withColumn("__n2",
        aggregate(col("xd"), lit(0.0d), (a, x) => a + x * x))
      .select(col("id").as(idCol),
        transform(col("xd"), x =>
          when(col("__n2") === 0.0d, lit(0.0d))
            .otherwise(floor(x * lit(scale.toDouble) / sqrt(col("__n2")))))
          .as(vecCol))
  }

  /** Cosine similarity of two float-array columns, computed in double
    * (deterministic left-to-right fold, matching the DuckDB oracle).
    */
  def cosine(a: Column, b: Column): Column = {
    val ad = a.cast("array<double>")
    val bd = b.cast("array<double>")
    dot(ad, bd) / (sqrt(dot(ad, ad)) * sqrt(dot(bd, bd)))
  }

  /** Exact brute-force top-k cosine neighbors for each query vector.
    * `queries` is expected to be small (it is broadcast); ties broken by
    * neighbor id for determinism.
    */
  def bruteForceKnn(corpus: DataFrame, queries: DataFrame, k: Int,
                    idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val q = broadcast(queries.select(col(idCol).as("query_id"), col(vecCol).as("qv")))
    val c = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("cv"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("sim").desc, col("neighbor_id").asc)
    q.join(c, col("query_id") =!= col("neighbor_id"))
      .withColumn("sim", cosine(col("qv"), col("cv")))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("neighbor_id"),
              round(col("sim"), 6).as("sim"))
  }

  /** Hard-triplet mining for contrastive/embedding training: for each
    * anchor, the most-similar SAME-label vector (hardest positive), the
    * `negK` most-similar DIFFERENT-label vectors (hardest negatives), and
    * the triplet margin pos_sim − neg_sim — small margins are the
    * informative triplets a contrastive fine-tune wants.
    *
    * Scale contract = [[bruteForceKnn]]'s: the anchor set broadcasts
    * against ONE corpus scan (exact by contract); an anchor set that
    * outgrows a broadcast routes through the ANN paths ([[lshKnn]] /
    * [[ivfSearchFixedPoint]]) for the candidate pool and re-ranks
    * exactly, same as s02/s04. Ranking is per-(anchor, kind), so the
    * shuffle after the scan carries candidate rows only.
    */
  def hardTriplets(corpus: DataFrame, anchors: DataFrame, negK: Int,
                   idCol: String = "vec_id", vecCol: String = "embedding",
                   labelCol: String = "label"): DataFrame = {
    val a = broadcast(anchors.select(col(idCol).as("anchor_id"),
      col(vecCol).as("av"), col(labelCol).as("al")))
    val c = corpus.select(col(idCol).as("cand_id"),
      col(vecCol).as("cv"), col(labelCol).as("cl"))
    val w = Window.partitionBy(col("anchor_id"), col("kind"))
      .orderBy(col("sim").desc, col("cand_id").asc)
    val ranked = a.join(c, col("anchor_id") =!= col("cand_id"))
      .withColumn("kind",
        when(col("al") === col("cl"), lit("pos")).otherwise(lit("neg")))
      .withColumn("sim", cosine(col("av"), col("cv")))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter((col("kind") === "pos" && col("rank") === 1) ||
              (col("kind") === "neg" && col("rank") <= negK))
      .select(col("anchor_id"), col("kind"), col("rank"), col("cand_id"),
              round(col("sim"), 6).as("sim"))
    // margin from the ROUNDED sims (byte-identical across engines); the
    // window spans ≤ 1 + negK rows per anchor
    val wa = Window.partitionBy(col("anchor_id"))
    ranked.withColumn("margin", when(col("kind") === "neg",
      round(max(when(col("kind") === "pos", col("sim"))).over(wa) - col("sim"), 6)))
  }

  /** Maximal-marginal-relevance diverse top-k: greedily select `k` items
    * maximizing λ·rel(d) − (1−λ)·max_{s∈S} sim(d, s) — the de-dup-at-
    * retrieval step that keeps a RAG context window from filling with k
    * copies of the same passage. Engine does the unbounded work: ONE
    * corpus scan for the exact top-`poolK` relevance pool (s01's
    * broadcast-query contract; swap the ANN paths in for the pool at
    * scale) and the poolK² pairwise sims; the driver then runs only the
    * O(k·poolK) greedy argmax over those engine-computed, 6dp-rounded
    * numbers — corpus-size-independent by construction, the s10/t27
    * bounded-driver-model shape. Ties break by id; maxsim over the empty
    * set is 0, so pick #1 is the relevance argmax. Every float the
    * selection consumes is engine-rounded, so the oracle replays the
    * greedy stage-by-stage and byte-equal.
    */
  def mmrDiverseTopK(corpus: DataFrame, queryVecId: Long, k: Int, poolK: Int,
                     lambda: Double, idCol: String = "vec_id",
                     vecCol: String = "embedding"): DataFrame = {
    val spark = corpus.sparkSession
    val q = broadcast(corpus.filter(col(idCol) === queryVecId)
      .select(col(vecCol).as("qv")))
    // orderBy+limit plans TakeOrderedAndProject: per-partition bounded
    // heaps, no global sort — the corpus scan stays fully parallel
    val pool = corpus.filter(col(idCol) =!= queryVecId)
      .select(col(idCol).as("id"), col(vecCol).as("v"))
      .crossJoin(q)
      .withColumn("rawsim", cosine(col("v"), col("qv")))
      .orderBy(col("rawsim").desc, col("id").asc)
      .limit(poolK)
      .select(col("id"), col("v"), round(col("rawsim"), 6).as("rel"))
      .localCheckpoint() // ≤ poolK rows; read twice below
    val rels = pool.select(col("id"), col("rel")).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val sims = pool.as("a").join(pool.as("b"), col("a.id") =!= col("b.id"))
      .select(col("a.id").as("ia"), col("b.id").as("ib"),
        round(cosine(col("a.v"), col("b.v")), 6).as("s"))
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val mu = 1.0 - lambda
    val selected = collection.mutable.ArrayBuffer.empty[(Long, Double, Double)]
    for (_ <- 1 to math.min(k, rels.size)) {
      val chosen = selected.map(_._1).toSet
      val best = rels.iterator.filterNot(e => chosen(e._1)).map { case (id, rel) =>
        val maxSim = if (chosen.isEmpty) 0.0
                     else chosen.iterator.map(s => sims((id, s))).max
        (id, rel, lambda * rel - mu * maxSim)
      }.minBy { case (id, _, score) => (-score, id) }
      selected += best
    }
    import spark.implicits._
    // mmr_score stays UNROUNDED: both engines compute λ·rel − (1−λ)·max
    // over identical 6dp-rounded inputs, so the raw doubles are already
    // bit-identical — re-rounding would only reintroduce the half-way
    // divergence between BigDecimal HALF_UP and DuckDB's scaled round.
    selected.toSeq.zipWithIndex
      .map { case ((id, rel, score), i) => (i + 1L, id, rel, score) }
      .toDF("rank", idCol, "rel", "mmr_score")
  }

  /** Shared PQ encode column: all m argmins in one codegen'd kernel over
    * precomputed (2c, ‖c‖²) literals — the fixed-codebook search path
    * and, through [[pqEncodeFixed]], every fixed-point PQ trainer, index
    * build and search. The unrolled array-of-literal-dots tree it
    * replaces blew Janino's 64 KB method limit at m=16.
    */
  private def pqEncodeCol(cbs: Array[Array[Array[Double]]], vec: Column): Column = {
    val (m, cbSize, sub) = (cbs.length, cbs(0).length, cbs(0)(0).length)
    val flat2c = cbs.flatten.flatten.map(_ * 2)
    val norms = cbs.flatMap(_.map(c => c.map(x => x * x).sum))
    graft.functions.PqKernels.encode(vec, flat2c, norms, m, cbSize, sub)
  }

  /** Product-quantization search against a FIXED float codebook (m
    * subspaces × codebookSize centroids): kernel encode of the corpus,
    * ADC candidate scoring, exact cosine re-rank of the top k·rerank.
    * Gate s17 DuckDB-oracles these encode/score/re-rank semantics
    * against a literal dyadic codebook; trained codebooks come from
    * [[pqTrainFixedPoint]] and search through [[pqSearchFixedPoint]].
    *
    * Scale design: the codebooks (m·codebookSize·dim/m doubles) are plan
    * literals; encoding is one codegen'd scan with NO shuffle. At 100 TB
    * the codes table is m bytes/vector vs 4d, and only candidate ids
    * touch the full vectors again (via the re-rank join).
    */
  def pqSearch(corpus: DataFrame, queries: DataFrame, k: Int,
               codebooks: Array[Array[Array[Double]]], rerank: Int,
               idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val (m, codebookSize, sub) =
      (codebooks.length, codebooks(0).length, codebooks(0)(0).length)
    val vecs = corpus.select(col(idCol).as("id"),
      col(vecCol).cast("array<double>").as("v"))
    // encode: one codegen'd kernel in ONE corpus scan — the stored index
    val coded = vecs.select(col("id"), pqEncodeCol(codebooks, col("v")).as("codes"))

    // ADC scoring: approx dot = Σ_s  q_sub(s) · centroid[s][code_s],
    // one codegen'd lookup-sum over the codes array per (query, row).
    val q = broadcast(queries.select(
      col(idCol).as("query_id"),
      col(vecCol).cast("array<double>").as("qv"),
      sqrt(dot(col(vecCol).cast("array<double>"),
               col(vecCol).cast("array<double>"))).as("qn")))
    val approxDot = graft.functions.PqKernels.adcScore(
      col("qv"), col("codes"), codebooks.flatten.flatten, m, codebookSize, sub)
    val wA = Window.partitionBy(col("query_id"))
      .orderBy(col("adot").desc, col("id").asc)
    val candidates = q.join(coded, col("query_id") =!= col("id"))
      .withColumn("adot", approxDot)
      .withColumn("arnk", row_number().over(wA))
      .filter(col("arnk") <= k * rerank)
      .select(col("query_id"), col("qv"), col("qn"), col("id").as("neighbor_id"))

    // exact re-rank of the candidate set only
    val wE = Window.partitionBy(col("query_id"))
      .orderBy(col("sim").desc, col("neighbor_id").asc)
    candidates.join(vecs.withColumnRenamed("id", "nid"),
        col("neighbor_id") === col("nid"))
      // zero-norm vectors score 0, they don't ANSI-crash the job
      .withColumn("nn", col("qn") * sqrt(dot(col("v"), col("v"))))
      .withColumn("sim", when(col("nn") > 0,
        dot(col("qv"), col("v")) / col("nn")).otherwise(lit(0.0)))
      .withColumn("rank", row_number().over(wE).cast("long"))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("neighbor_id"),
              round(col("sim"), 6).as("sim"))
  }

  /** Random-hyperplane LSH signature: `nBits` sign bits of projections
    * onto pseudo-random hyperplanes. The hyperplane family is derived from
    * xxhash64(table·nBits + bit, dimension) — deterministic, seedable per
    * hash table, no stored model. The sign matrix is evaluated once at
    * plan time and the per-row work is one codegen'd loop
    * ([[graft.functions.PackedSignBits]]) — the interpreted
    * HigherOrderFunction fold it replaces cost a lambda per element per
    * bit per table. Bit-for-bit identical signatures (spec-asserted).
    */
  def lshSignature(vecCol: Column, dim: Int, nBits: Int, table: Int = 0): Column =
    graft.functions.SignBits.signature(vecCol, dim, nBits, table)

  /** Approximate top-k via multi-table LSH: `tables` independent
    * hyperplane families; candidates = union of same-bucket matches across
    * tables, then exact cosine re-rank. Recall grows with `tables`
    * (1-(1-p^nBits)^tables), cost per table is one corpus shuffle key.
    */
  def lshKnn(corpus: DataFrame, queries: DataFrame, k: Int, dim: Int,
             nBits: Int = 4, tables: Int = 8, idCol: String = "vec_id",
             vecCol: String = "embedding"): DataFrame = {
    def buckets(src: DataFrame, id: String, vec: String): DataFrame =
      src.select(col(idCol).as(id), col(vecCol).as(vec),
          posexplode(array((0 until tables).map(t =>
            lshSignature(col(vecCol), dim, nBits, t)): _*)))
        .toDF(id, vec, "table", "bucket")
    val q = broadcast(buckets(queries, "query_id", "qv"))
    val c = buckets(corpus, "neighbor_id", "cv")
    val cands = q.join(c, Seq("table", "bucket"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .groupBy(col("query_id"), col("neighbor_id"))
      .agg(first(col("qv")).as("qv"), first(col("cv")).as("cv"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("sim").desc, col("neighbor_id").asc)
    cands
      .withColumn("sim", cosine(col("qv"), col("cv")))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("neighbor_id"),
              round(col("sim"), 6).as("sim"))
  }

  /** All pairs above a cosine threshold — EXACT, via a distributed block
    * grid instead of a broadcast nested-loop cartesian.
    *
    * Exact all-pairs similarity is inherently Θ(n²) compute; what must NOT
    * be Θ(n²) is any single executor's share. Rows are hashed into
    * `gridBlocks` blocks; each of the B(B+1)/2 block-pair cells is an
    * independent equi-join key, so the n² work spreads evenly across the
    * cluster with O(n·B) shuffle volume and n/B-row build sides — no
    * full-corpus broadcast anywhere. Norms are computed once per row, and
    * the per-pair kernel is one codegen'd dot product.
    *
    * For high thresholds (real near-dup, sim ≳ 0.8) prefer
    * [[cosinePairsLsh]], which is sub-quadratic; at low thresholds LSH
    * bucket collisions are no longer selective and exact wins.
    */
  def cosinePairs(corpus: DataFrame, threshold: Double,
                  idCol: String = "vec_id", vecCol: String = "embedding",
                  gridBlocks: Int = 8): DataFrame = {
    val spark = corpus.sparkSession
    val prepped = corpus.select(
        col(idCol).as("id"), col(vecCol).cast("array<double>").as("v"))
      .withColumn("nrm", sqrt(dot(col("v"), col("v"))))
      .withColumn("blk", pmod(xxhash64(col("id")), lit(gridBlocks.toLong)))
    // the grid of block-pair cells (bi ≤ bj) is tiny: B(B+1)/2 rows
    val grid = spark.range(gridBlocks).select(col("id").as("bi"))
      .crossJoin(spark.range(gridBlocks).select(col("id").as("bj")))
      .filter(col("bi") <= col("bj"))
      .withColumn("pk", col("bi") * gridBlocks + col("bj"))
    val lefts = prepped.join(broadcast(grid), col("blk") === col("bi"))
      .select(col("pk"), col("bi"), col("bj"), col("id").as("id1"),
              col("v").as("v1"), col("nrm").as("n1"))
    val rights = prepped.join(broadcast(grid), col("blk") === col("bj"))
      .select(col("pk").as("pk2"), col("id").as("id2"),
              col("v").as("v2"), col("nrm").as("n2"))
    lefts.join(rights, col("pk") === col("pk2"))
      // off-diagonal cells see each unordered pair exactly once (any id
      // order); diagonal cells see both orders — keep one
      .filter(col("bi") < col("bj") || col("id1") < col("id2"))
      .withColumn("sim", dot(col("v1"), col("v2")) / (col("n1") * col("n2")))
      .filter(col("sim") >= threshold)
      .select(least(col("id1"), col("id2")).as("id1"),
              greatest(col("id1"), col("id2")).as("id2"),
              round(col("sim"), 6).as("sim"))
  }

  /** Argmax over a staged dot-products array column: 0-based id of the
    * best centroid. Ties break toward the smaller centroid id
    * (array_position returns the FIRST max). Single source of the
    * encode's tie-break/indexing convention — every trainer, assignment
    * and IVF list encode routes through it.
    */
  def nearestOfDots(dots: Column): Column =
    (array_position(dots, array_max(dots)) - 1).cast("int")

  /** Codegen'd nearest-centroid (max inner product) assignment against a
    * literal float codebook — [[ivfSearch]]'s list encode (gate s16).
    */
  def nearestCentroidExpr(cs: Array[Array[Double]], vec: Column): Column =
    nearestOfDots(array(cs.toIndexedSeq.map(c => dot(vec, typedLit(c.toSeq))): _*))

  /** Integer fixed-point Lloyd k-means — the engine's one k-means
    * trainer, whose every bit is DuckDB-replayable (a distributed float
    * `avg` is not: its partial-sum order varies with the partitioning).
    * House style (the graph family's integer-mass argument, applied to
    * vector quantization):
    *
    *  - vectors quantize to `floor(x·scale)` micro-units. Every score and
    *    every sum below stays under 2^53, so the double arithmetic both
    *    engines run is EXACT integer arithmetic — order-independent,
    *    bit-identical across partitionings (spec-asserted).
    *  - init = the `k` smallest-id rows in id order (replayable ORDER BY,
    *    no RNG, no hash function the oracle lacks).
    *  - assignment = argmax of 2c·x − ‖c‖² (⇔ min L2 distance) over
    *    literal integer centroids, first-max ties ([[nearestOfDots]]) —
    *    one codegen'd scan, no join.
    *  - update = [[floorMeans]]: floor(Σx / n) per (cluster, dim).
    *    Empty clusters keep their previous centroid.
    *
    * Scale contract ([[lloydFixedPoint]]): per iteration one cached scan
    * of the `trainCap` smallest-id rows + ONE (cid, pos) hash-aggregate
    * whose shuffle carries k·dim partial sums after map-side combine;
    * centroids live driver-side as plan literals (k·dim longs).
    */
  def kmeansTrainFixedPoint(corpus: DataFrame, k: Int, maxIter: Int = 3,
                            scale: Long = 1000000L,
                            trainCap: Int = 100000,
                            idCol: String = "vec_id", vecCol: String = "embedding")
      : Array[Array[Long]] =
    lloydFixedPoint("kmeansTrainFixedPoint", corpus, k, maxIter, scale,
        trainCap, idCol, vecCol)(identity) { (vecs, cents) =>
      // argmax before the explode: in the explode's own select it would
      // run once per element instead of once per vector
      vecs.withColumn("cell", nearestOfDots(fixedScores(cents)))
        .select(col("cell"), posexplode(col("xd")).as(Seq("p", "x")))
    }

  /** The Lloyd loop both fixed-point trainers share. The training set
    * is the `trainCap` SMALLEST-id rows (an ORDER BY id LIMIT prefix the
    * oracle replays as a CTE, planned as TakeOrderedAndProject), so
    * corpus growth can neither trip the n·M < 2^53 guard nor make an
    * iteration scan the corpus: each one re-reads the persisted set.
    * Init = the `k` smallest-id rows, cut into centroid cells by
    * `cellsOf`; `eStep` emits one (cell, p, x) row per vector element
    * for [[floorMeans]]. The first update carries the [[Magnitude]]
    * guard; with no iteration, one aggregate of its own does.
    */
  private def lloydFixedPoint(op: String, corpus: DataFrame, k: Int,
      maxIter: Int, scale: Long, trainCap: Int, idCol: String,
      vecCol: String)(cellsOf: Array[Array[Long]] => Array[Array[Long]])(
      eStep: (DataFrame, Array[Array[Long]]) => DataFrame): Array[Array[Long]] = {
    val vecs = quantized(corpus, scale, idCol, vecCol)
      .orderBy(col("id")).limit(trainCap).persist()
    try {
      if (maxIter <= 0) Magnitude.of(vecs.agg(Magnitude.xd.head, Magnitude.xd.tail: _*)
        .collect()).check(op, scale)
      val init = vecs.orderBy(col("id")).limit(k).collect().sortBy(_.getLong(0))
        .map(_.getSeq[Double](1).map(_.toLong).toArray)
      if (init.isEmpty) return init
      var cells = cellsOf(init)
      for (i <- 0 until maxIter) {
        val means = floorMeans(eStep(vecs, cells), Seq("cell"),
          guard = if (i == 0) Some((op, scale)) else None)
        cells = cells.indices.map(c => means.getOrElse(Seq(c.toLong), cells(c))).toArray
      }
      cells
    } finally vecs.unpersist()
  }

  /** The fixed-point centroid update every trainer and cut shares. `rows`
    * holds (keys…, p, x): one row per element x at position p of a
    * quantized vector. Per key tuple the centroid is floor(Σx / n) per
    * position, in p order: the Long sum is exact, the IEEE division of
    * two exact integers is correctly rounded in both engines, and floor
    * of it is therefore identical (quotients ≤ scale, so the ulp
    * argument has ~1e9 of slack). One (keys…, p) hash-aggregate; keys
    * read back as Longs. With a `guard` (op, scale) the same aggregate
    * carries the rows' [[Magnitude]] (dim = max p + 1, rows = the
    * counts at p = 0), checked before any centroid is computed, and
    * sums the values [[Magnitude.masked]]. A call without a guard sums
    * plain values and computes none of that: its rows were already
    * checked, by a training's first update or by a cut's census.
    */
  private def floorMeans(rows: DataFrame, keys: Seq[String],
                         guard: Option[(String, Long)] = None)
      : Map[Seq[Long], Array[Long]] = {
    val nk = keys.length
    val stats = guard.fold(Seq(sum(col("x").cast("long")), count(lit(1)))) { _ =>
      Seq(sum(Magnitude.masked(col("x")).cast("long")), count(lit(1)),
        max(abs(col("x"))), max(col("p") + 1), count(when(col("p") === 0, 1)))
    }
    val groups = rows
      .groupBy(keys.map(col(_).cast("long")) :+ col("p"): _*)
      .agg(stats.head, stats.tail: _*)
      .collect()
    guard.foreach { case (op, scale) => Magnitude.of(groups).check(op, scale) }
    groups.groupBy(r => (0 until nk).map(r.getLong)).map { case (key, rs) =>
      key -> rs.sortBy(_.getInt(nk))
        .map(r => math.floor(r.getLong(nk + 1).toDouble / r.getLong(nk + 2)).toLong)
    }
  }

  /** (id, xd) with xd = floor(x·scale) per dim, carried as exact-integer
    * doubles so the codegen'd dot kernel consumes it directly.
    */
  private[graft] def quantized(corpus: DataFrame, scale: Long,
                               idCol: String, vecCol: String): DataFrame =
    corpus.select(col(idCol).as("id"), quantizedVec(col(vecCol), scale).as("xd"))

  private def quantizedVec(vec: Column, scale: Long): Column =
    transform(vec.cast("array<double>"),
      x => floor(x * lit(scale.toDouble)).cast("double"))

  /** The fixed-point exactness precondition over quantized rows, enforced
    * LOUDLY (the graph family's 2⁶³-guard convention): every score/sum
    * of the trainers and cuts is exact integer arithmetic in doubles
    * ONLY while intermediates stay under 2⁵³. The score 2c·x − ‖c‖² is
    * bounded by 3·M²·dim (2·M²·dim for the dot chain plus M²·dim for
    * the norm), so M = max|⌊x·scale⌋| must satisfy 3·M²·dim < 2⁵³; the
    * update sums need n·M < 2⁵³. Out-of-range embeddings (or a scale too
    * large for the data) must fail with the offending magnitude named,
    * never train on silently-rounded arithmetic. No job of its own: the
    * statistics ride an aggregate the operator already runs (a trainer's
    * first [[floorMeans]], a cut's [[listCensus]]). `m` is None when no
    * row has an element, and nothing is checked.
    */
  private final case class Magnitude(m: Option[Double], dim: Int, n: Long) {
    def check(op: String, scale: Long): Unit = m.foreach { m =>
      val mMax = math.sqrt(math.pow(2, 53) / (3.0 * math.max(dim, 1)))
      require(m <= mMax,
        f"$op: quantized magnitude $m%.0f exceeds the " +
          f"exactness bound $mMax%.0f for dim=$dim (scale=$scale) — " +
          "2c·x − ‖c‖² scores would pass 2^53 and silently stop being " +
          "integer arithmetic; lower the scale or normalize the vectors")
      require(n.toDouble * m < math.pow(2, 53),
        s"$op: n=$n rows at magnitude $m overflow the " +
          "2^53-exact update sums; cap the training sample")
    }
  }

  private object Magnitude {
    /** Aggregates of (max |x|, max size, rows) over the quantized `xd`. */
    def xd: Seq[Column] = Seq(max(array_max(transform(col("xd"), x => abs(x)))),
      max(size(col("xd"))), count(lit(1)))

    /** From aggregate rows ending in (m, dim, n), one row per group. */
    def of(rows: Array[org.apache.spark.sql.Row]): Magnitude = {
      val w = rows.headOption.fold(0)(_.length)
      Magnitude(rows.filterNot(_.isNullAt(w - 3)).map(_.getDouble(w - 3)).maxOption,
        rows.filterNot(_.isNullAt(w - 2)).map(_.getInt(w - 2)).maxOption.getOrElse(0),
        rows.map(_.getLong(w - 1)).sum)
    }

    /** `x`, or null past the loosest bound (dim = 1): such a value fails
      * the check at any dim, and masked it cannot overflow the Long sum
      * of an aggregate that carries the check (ANSI mode would raise
      * that overflow before the named bound).
      */
    def masked(x: Column): Column =
      when(abs(x) <= math.sqrt(math.pow(2, 53) / 3.0), x)
  }

  /** The exact-integer score array over a fixed-point codebook:
    * element j = 2c_j·xd − ‖c_j‖², every term an integer below 2^53.
    */
  private[graft] def fixedScores(cb: Array[Array[Long]]): Column =
    array(cb.toIndexedSeq.map { c =>
      dot(col("xd"), typedLit(c.map(x => (2 * x).toDouble).toSeq)) -
        lit(c.map(x => x.toDouble * x.toDouble).sum)
    }: _*)

  /** The fixed-point E-step: (id, cid) nearest-centroid assignment of
    * every corpus vector against a literal integer codebook — one
    * codegen'd scan, no join, bit-deterministic (exact-integer scores,
    * first-max ties). The ASSIGNMENT STATE a production IVF index
    * persists; [[maintainAssignments]] keeps it current across corpus
    * versions and [[retrainReassign]] across codebook versions.
    */
  def assignFixedPoint(corpus: DataFrame, codebook: Array[Array[Long]],
                       scale: Long = 1000000L,
                       idCol: String = "vec_id", vecCol: String = "embedding")
      : DataFrame =
    quantized(corpus, scale, idCol, vecCol)
      .select(col("id"), nearestOfDots(fixedScores(codebook)).cast("long").as("cid"))

  /** IVF search where the assignment/probe phases run on a FIXED-POINT
    * codebook ([[kmeansTrainFixedPoint]]'s output) with exact-integer
    * scores: corpus vectors list by integer argmax, each query probes
    * its `nProbe` top-score centroids (score desc, cid asc — exact
    * ties), and candidates re-rank by exact double cosine. With the
    * fixed-point trainer this makes the ENTIRE ANN path — training,
    * assignment, probing, re-ranking — DuckDB-replayable in one oracle
    * (gate s22), the end-to-end theorem s16 could only state modulo a
    * handed-in codebook. Movement = [[ivfSearch]]'s: one corpus scan to
    * list (codegen'd literal argmax, no join), probes broadcast,
    * corpus shuffled once by list id.
    */
  def ivfSearchFixedPoint(corpus: DataFrame, queries: DataFrame, k: Int,
                          codebook: Array[Array[Long]], nProbe: Int,
                          scale: Long = 1000000L,
                          idCol: String = "vec_id", vecCol: String = "embedding")
      : DataFrame =
    ivfSearchState(corpus,
      assignFixedPoint(corpus, codebook, scale, idCol, vecCol),
      queries, k, codebook, nProbe, scale, idCol, vecCol)

  /** [[ivfSearchFixedPoint]] against a SUPPLIED physical assignment
    * state — the search the partitioned serving layout actually runs:
    * each query's nProbe probe set ranks by exact-integer score against
    * the codebook (the metadata), but candidates are whatever rows the
    * probed `(id, cid)` lists PHYSICALLY hold (at 100 TB: the nProbe
    * `cid=` directories partition pruning leaves, nothing else). The
    * distinction is invisible while state ≡ argmax (the fresh-build
    * case — [[ivfSearchFixedPoint]] delegates here with exactly that
    * state) and load-bearing after a REBALANCE: [[splitListsEven]]'s
    * rank chunks and [[mergeLists]]' survivor seats are legitimately
    * NOT the Voronoi cells of their codebook entries, so a probed-by-
    * centroid query can in principle miss a member the argmax relisting
    * would have surfaced. Recall of THIS path over a rebalanced state
    * is therefore the retrieval-quality evidence the rebalance family
    * stands on — measured by [[graft.RebalanceRecallProbe]] (RECALL.json
    * `postRebalance`) and floored by RebalanceRecallSpec, the r14 ADC
    * lesson (a ranking defect no hash gate saw until recall was
    * measured) applied to the list geometry. Movement: probes
    * broadcast; ONE shuffle of the state by cid; candidate re-rank
    * joins bounded by Σ probed-list sizes.
    */
  def ivfSearchState(corpus: DataFrame, state: DataFrame,
                     queries: DataFrame, k: Int,
                     codebook: Array[Array[Long]], nProbe: Int,
                     scale: Long = 1000000L,
                     idCol: String = "vec_id", vecCol: String = "embedding")
      : DataFrame = {
    val listed = state.select(col("id"), col("cid"))
    val probes = broadcast(
      quantized(queries, scale, idCol, vecCol)
        .select(col("id").as("query_id"),
          posexplode(fixedScores(codebook)).as(Seq("cid", "score")))
        .withColumn("rnk", row_number().over(Window
          .partitionBy(col("query_id"))
          .orderBy(col("score").desc, col("cid"))))
        .filter(col("rnk") <= nProbe)
        .select(col("query_id"), col("cid").cast("long").as("cid")))
    val vecs = corpus.select(col(idCol).as("neighbor_id"),
      col(vecCol).cast("array<double>").as("nv"))
    val qvecs = broadcast(queries.select(col(idCol).as("query_id"),
      col(vecCol).cast("array<double>").as("qv")))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("sim").desc, col("neighbor_id").asc)
    probes.join(listed, Seq("cid"))
      .filter(col("query_id") =!= col("id"))
      .select(col("query_id"), col("id").as("neighbor_id"))
      .join(vecs, Seq("neighbor_id"))
      .join(qvecs, Seq("query_id"))
      .withColumn("sim", cosine(col("qv"), col("nv")))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("neighbor_id"),
              round(col("sim"), 6).as("sim"))
  }

  /** Per-subspace integer fixed-point PQ codebooks — a Lloyd trainer
    * in the s19 exact-integer style, so PQ training is DuckDB-replayable
    * (gates s08 and s23). All m subspace argmins in ONE codegen'd
    * kernel pass ([[graft.functions.PqEncode]] over exact-integer doubles — every
    * score ≤ ~1.2e13 ≪ 2^53, so the kernel's float arithmetic IS
    * integer arithmetic), then ONE (s, cid, pos) [[floorMeans]]
    * aggregate per iteration; empty clusters keep their centroid, init =
    * the `codebookSize` smallest-id rows sliced per subspace
    * ([[lloydFixedPoint]], replayable ORDER BY).
    */
  def pqTrainFixedPoint(corpus: DataFrame, dim: Int, m: Int = 4,
                        codebookSize: Int = 8, maxIter: Int = 2,
                        scale: Long = 1000000L,
                        trainCap: Int = 100000,
                        idCol: String = "vec_id", vecCol: String = "embedding")
      : Array[Array[Array[Long]]] = {
    require(dim % m == 0, s"dim $dim must divide into $m subspaces")
    val sub = dim / m
    // cell s·n + c = subspace s of centroid c, n = the init row count;
    // an empty corpus gives empty per-subspace codebooks, nothing to
    // train — the kmeansTrainFixedPoint convention (search rejects the
    // shape)
    def split(cells: Array[Array[Long]]) = cells.grouped(cells.length / m).toArray
    val cells = lloydFixedPoint("pqTrainFixedPoint", corpus, codebookSize,
        maxIter, scale, trainCap, idCol, vecCol) { init =>
      Array.tabulate(m)(s => init.map(_.slice(s * sub, (s + 1) * sub))).flatten
    } { (vecs, cells) =>
      vecs.select(col("xd"), posexplode(pqEncodeFixed(split(cells), col("xd")))
          .as(Seq("s", "cid")))
        .select(col("s"), (col("s") * (cells.length / m) + col("cid")).as("cell"),
          posexplode(slice(col("xd"), col("s") * lit(sub) + 1, lit(sub)))
            .as(Seq("pos", "x")))
        .select(col("cell"), (col("s") * sub + col("pos")).as("p"), col("x"))
    }
    if (cells.isEmpty) Array.fill(m)(Array.empty[Array[Long]]) else split(cells)
  }

  /** [[pqEncodeCol]] over a fixed-point codebook: the (2c, ‖c‖²)
    * reference arrays hold exact-integer doubles, so the kernel's
    * per-subspace argmax is exact and first-max ties match the
    * oracle's (score desc, cid asc).
    */
  private def pqEncodeFixed(cbs: Array[Array[Array[Long]]], vec: Column): Column =
    pqEncodeCol(cbs.map(_.map(_.map(_.toDouble))), vec)

  /** The PQ query phase against FIXED-POINT codebooks (gate s23 with
    * [[pqTrainFixedPoint]]): kernel encode of the quantized corpus, ADC
    * scoring of quantized queries against integer centroids (exact, so
    * the k·rerank candidate window replays bit-for-bit), exact double
    * cosine re-rank of the raw vectors. Movement = [[pqSearch]]'s.
    */
  def pqSearchFixedPoint(corpus: DataFrame, queries: DataFrame, k: Int,
                         cbs: Array[Array[Array[Long]]], rerank: Int,
                         scale: Long = 1000000L,
                         idCol: String = "vec_id", vecCol: String = "embedding")
      : DataFrame = {
    require(cbs.nonEmpty && cbs.forall(_.nonEmpty),
      "pqSearchFixedPoint: empty codebook (trained on an empty corpus?) — " +
        "there is nothing to encode against; train on a non-empty sample")
    val (m, cbSize, sub) = (cbs.length, cbs(0).length, cbs(0)(0).length)
    val vecs = corpus.select(col(idCol).as("id"),
      col(vecCol).cast("array<double>").as("v"))
    val coded = quantized(corpus, scale, idCol, vecCol)
      .select(col("id"), pqEncodeFixed(cbs, col("xd")).as("codes"))
    val q = broadcast(queries.select(col(idCol).as("query_id"),
      quantizedVec(col(vecCol), scale).as("qxd"),
      col(vecCol).cast("array<double>").as("qv")))
    val flatC = cbs.flatten.flatten.map(_.toDouble)
    val adot = graft.functions.PqKernels.adcScore(
      col("qxd"), col("codes"), flatC, m, cbSize, sub)
    val wA = Window.partitionBy(col("query_id"))
      .orderBy(col("adot").desc, col("id").asc)
    val wE = Window.partitionBy(col("query_id"))
      .orderBy(col("sim").desc, col("neighbor_id").asc)
    q.join(coded, col("query_id") =!= col("id"))
      .withColumn("adot", adot)
      .withColumn("arnk", row_number().over(wA))
      .filter(col("arnk") <= k * rerank)
      .select(col("query_id"), col("qv"), col("id").as("neighbor_id"))
      .join(vecs.withColumnRenamed("id", "neighbor_id"), Seq("neighbor_id"))
      .withColumn("sim", cosine(col("qv"), col("v")))
      .withColumn("rank", row_number().over(wE).cast("long"))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("neighbor_id"),
              round(col("sim"), 6).as("sim"))
  }

  /** Per-id residual of the quantized corpus against a fixed-point
    * coarse codebook: (id, cid, rd) where cid is the exact-integer
    * coarse argmax ([[assignFixedPoint]]'s convention) and rd = xd −
    * c_cid elementwise — integer micro-units minus integer micro-units,
    * so the residual is itself exact and every downstream PQ score on
    * it stays integer arithmetic. The centroid table is a plan literal
    * (nLists·dim doubles); the subtraction is one per-row zip_with over
    * the already-scored vector — O(dim) next to the O(nLists·dim)
    * argmax that precedes it, so the interpreted lambda is not the
    * scan's hot term.
    */
  private def residualized(corpus: DataFrame, coarseCb: Array[Array[Long]],
                           scale: Long, idCol: String, vecCol: String)
      : DataFrame = {
    val cbLit = typedLit(coarseCb.map(_.map(_.toDouble).toSeq).toSeq)
    quantized(corpus, scale, idCol, vecCol)
      .withColumn("cid", nearestOfDots(fixedScores(coarseCb)))
      .withColumn("rd", zip_with(col("xd"),
        element_at(cbLit, col("cid") + 1), (x, c) => x - c))
  }

  /** IVFADC training — the two quantizer stages of the production ANN
    * layout (Jégou et al. 2011's IVF + residual PQ composition),
    * entirely in the s19 fixed-point style so gate s24's oracle can
    * re-train BOTH stages from scratch:
    *
    *  1. coarse: [[kmeansTrainFixedPoint]] on the raw corpus →
    *     `nLists` integer centroids (the inverted-list quantizer);
    *  2. residual PQ: every vector's exact-integer residual x − c_list
    *     under its coarse argmax, then [[pqTrainFixedPoint]] over the
    *     residuals at scale 1 (they are ALREADY micro-units — floor(x·1)
    *     is the identity on integral doubles), sharing ONE codebook set
    *     across lists (the standard IVFADC shape: residual distributions
    *     concentrate near 0, so one shared codebook quantizes them far
    *     better than it would raw vectors).
    *
    * Residual magnitudes are ≤ 2·M, so the established 2^53 bounds hold
    * with 4× headroom consumed ([[Magnitude]] re-checks
    * inside the PQ trainer). Both trainers apply the same deterministic
    * `trainCap` id-prefix, replayed by the oracle as one shared CTE.
    *
    * Scale: stage 1 is s19's movement; the residual pass is one
    * codegen'd-argmax scan + zip_with; stage 2 is s23's movement over
    * the capped residuals. Codebooks stay driver-side plan literals
    * (nLists·dim + m·codebookSize·dim/m longs).
    */
  def ivfPqTrainFixedPoint(corpus: DataFrame, dim: Int, nLists: Int,
                           m: Int = 4, codebookSize: Int = 8,
                           maxIterCoarse: Int = 3, maxIterPq: Int = 2,
                           scale: Long = 1000000L, trainCap: Int = 100000,
                           idCol: String = "vec_id",
                           vecCol: String = "embedding")
      : (Array[Array[Long]], Array[Array[Array[Long]]]) = {
    val coarse = kmeansTrainFixedPoint(corpus, nLists, maxIterCoarse,
      scale, trainCap, idCol, vecCol)
    if (coarse.isEmpty)
      return (coarse, Array.fill(m)(Array.empty[Array[Long]]))
    val residuals = residualized(corpus, coarse, scale, idCol, vecCol)
      .select(col("id"), col("rd"))
    val pq = pqTrainFixedPoint(residuals, dim, m, codebookSize, maxIterPq,
      scale = 1L, trainCap, idCol = "id", vecCol = "rd")
    (coarse, pq)
  }

  /** IVFADC search (gate s24) — the composition the separate s22/s23
    * gates exist to enable, and the one that removes s23's documented
    * scan-all ADC term: each query probes its `nProbe` top-score coarse
    * lists (s22's exact-integer probe ranking) and ADC-scans ONLY the
    * corpus rows listed there — nProbe/nLists of the corpus instead of
    * all of it — using the query's PER-LIST residual q − c_list against
    * the shared residual codebooks. Candidates re-rank by exact double
    * cosine. Every phase is exact integer arithmetic until the final
    * cosine, so the whole path — both trainings, listing, residual
    * encode, probe ranking, ADC window, re-rank — replays in one DuckDB
    * oracle with nothing held fixed.
    *
    * Movement: ONE corpus scan builds the index view (codegen'd coarse
    * argmax + residual zip_with + codegen'd PQ encode — no join, no
    * shuffle); probes broadcast (|Q|·nProbe rows, each carrying its
    * list residual); the ADC join shuffles the coded corpus once by
    * list id, and only probed lists' rows reach the ADC kernel or the
    * per-query candidate window. At production sizing (nLists ≈ √n)
    * the scanned fraction nProbe/nLists vanishes as the corpus grows —
    * the 100 TB ANN contract, with codes at m bytes/vector.
    */
  /** The stored IVFADC index view — s24's listing phase, exposed as the
    * per-id derived state the continuous form (s26) maintains: (id, cid,
    * codes) = coarse list id + residual PQ codes, in ONE corpus scan
    * (codegen'd coarse argmax + residual zip_with + codegen'd PQ
    * encode — no join, no shuffle). At 100 TB this IS the index table:
    * m bytes of codes per vector, partitionable by list id.
    */
  def ivfPqEncodeFixedPoint(corpus: DataFrame,
                            coarseCb: Array[Array[Long]],
                            pqCbs: Array[Array[Array[Long]]],
                            scale: Long = 1000000L,
                            idCol: String = "vec_id",
                            vecCol: String = "embedding"): DataFrame = {
    require(coarseCb.nonEmpty,
      "ivfPqEncodeFixedPoint: empty coarse codebook — train on a " +
        "non-empty sample")
    require(pqCbs.nonEmpty && pqCbs.forall(_.nonEmpty),
      "ivfPqEncodeFixedPoint: empty residual codebook (trained on an " +
        "empty corpus?) — there is nothing to encode against")
    residualized(corpus, coarseCb, scale, idCol, vecCol)
      .select(col("id"), col("cid"),
        pqEncodeFixed(pqCbs, col("rd")).as("codes"))
  }

  /** s26: IVFADC index maintenance — the d19/m09/s18 upsert seam applied
    * to the production index layout. Both codebook stages are FIXED
    * (retrain is the separate rare event, s20/s25), so an unchanged
    * vector's (list, codes) row can never move and maintenance touches
    * DELTA vectors only: one broadcastable anti-join on the touched ids
    * + the one-scan encode kernel over added ∪ changed vectors.
    * Contract (hash-oracled by the s26 gate's V2-rebuild oracle):
    * maintained ≡ [[ivfPqEncodeFixedPoint]](V_{N+1}) row-for-row.
    */
  def maintainIvfPqIndex(state: DataFrame, diff: DataFrame,
                         newVectors: DataFrame,
                         coarseCb: Array[Array[Long]],
                         pqCbs: Array[Array[Array[Long]]],
                         scale: Long = 1000000L,
                         idCol: String = "vec_id",
                         vecCol: String = "embedding"): DataFrame =
    IndexMaintenance.upsert(state, diff, newVectors, idCol)(
      ivfPqEncodeFixedPoint(_, coarseCb, pqCbs, scale, idCol, vecCol))

  def ivfPqSearchFixedPoint(corpus: DataFrame, queries: DataFrame, k: Int,
                            coarseCb: Array[Array[Long]],
                            pqCbs: Array[Array[Array[Long]]],
                            nProbe: Int, rerank: Int,
                            scale: Long = 1000000L,
                            idCol: String = "vec_id",
                            vecCol: String = "embedding"): DataFrame =
    ivfPqSearchIndexed(
      ivfPqEncodeFixedPoint(corpus, coarseCb, pqCbs, scale, idCol, vecCol),
      corpus, queries, k, coarseCb, pqCbs, nProbe, rerank, scale,
      idCol, vecCol)

  /** Write the IVFADC index PHYSICALLY PARTITIONED by list id — the
    * storage layout [[ivfPqSearchIndexed]]'s pruning contract assumes:
    * one `cid=<list>` directory per inverted list, so a probed-list
    * filter prunes at the FILE index and serving reads nProbe/nLists of
    * the files, not nProbe/nLists of the rows of every file. Used by
    * the one-shot build here and by the continuous Loop's versioned
    * state writes ([[graft.streaming.ContinuousIndexMaintenance]]).
    * Returns the read-back table (partition column restored), which is
    * what serving should hold. At production sizing nLists ≈ √n, so
    * the directory fan-out stays far below file-system limits (1M
    * vectors → ~1k dirs; 1T vectors → ~1M dirs, shardable by cid
    * range if a store needs it).
    */
  def buildIvfPqIndex(corpus: DataFrame, path: String,
                      coarseCb: Array[Array[Long]],
                      pqCbs: Array[Array[Array[Long]]],
                      scale: Long = 1000000L,
                      idCol: String = "vec_id",
                      vecCol: String = "embedding"): DataFrame = {
    ivfPqEncodeFixedPoint(corpus, coarseCb, pqCbs, scale, idCol, vecCol)
      .write.mode("overwrite").partitionBy("cid").parquet(path)
    corpus.sparkSession.read.parquet(path)
  }

  /** IVFADC search against a PRE-BUILT index (gate s28) — the serving
    * path of the composed lifecycle: at 100 TB the (id, list, codes)
    * index is encoded ONCE (s24's build or s26/s27's maintenance) and
    * stored partitioned by list id ([[buildIvfPqIndex]] / the Loop's
    * partitioned versioned writes); queries must not re-encode the
    * corpus. The probed-list set (bounded: |Q|·nProbe ids, the same
    * size class as the codebook plan literals) is derived driver-side
    * and pushed as a PARTITION FILTER on the index scan, so non-probed
    * lists are never READ — serving I/O is nProbe/nLists of the index
    * FILES, not a post-scan row filter (plan-asserted in
    * IvfPqIndexLayoutSpec; against a non-partitioned index the same
    * filter degrades gracefully to a row filter).
    *
    * `corpus` supplies only the raw vectors the final exact-cosine
    * re-rank reads, and only for the ≤ k·rerank candidates per query —
    * the candidate-id set is pushed down as a literal IN filter on the
    * corpus scan (r14), so on a parquet corpus row-group stats/blooms
    * prune the read to the files that hold candidates instead of
    * re-scanning the whole corpus after the index read was pruned
    * (plan-asserted in IvfPqIndexLayoutSpec). It must cover
    * every id the index lists: a candidate with no raw vector means the
    * caller paired a stale corpus snapshot with a newer index (or vice
    * versa), and the search FAILS LOUDLY on it (raise_error on the
    * re-rank join's null side) instead of silently dropping the
    * candidate and quietly mis-ranking top-k. Same probe/ADC/re-rank
    * movement as [[ivfPqSearchFixedPoint]], which is a thin
    * encode-then-search composition of this.
    */
  def ivfPqSearchIndexed(index: DataFrame,
                         corpus: DataFrame, queries: DataFrame, k: Int,
                         coarseCb: Array[Array[Long]],
                         pqCbs: Array[Array[Array[Long]]],
                         nProbe: Int, rerank: Int,
                         scale: Long = 1000000L,
                         idCol: String = "vec_id",
                         vecCol: String = "embedding"): DataFrame = {
    // pin the query SET once: probes (inside ivfPqCandidates) and the
    // re-rank's qvecs below must see the same rows — a
    // non-deterministic `queries` plan (sample, unordered limit)
    // re-evaluated per consumer could otherwise return candidates for
    // query ids the re-rank join then silently drops
    val q = queries.localCheckpoint()
    val cands = ivfPqCandidates(index, q, k, coarseCb, pqCbs,
        nProbe, rerank, scale, idCol, vecCol)
      // materialized ONCE: the candidate-id collect below and the final
      // re-rank join must read the same ≤ k·rerank·|Q| rows (same
      // argument as the probes checkpoint in [[ivfPqCandidates]])
      .localCheckpoint()
    // the candidate-id set, pushed down as a literal IN filter on the
    // corpus scan (same movement as the probed-list pushdown): without
    // it, the exact-cosine re-rank joins against the ENTIRE corpus — a
    // second full scan per search after the index read was so carefully
    // pruned. With it, parquet row-group stats/blooms prune the corpus
    // read to the files that actually hold candidates. Bounded:
    // ≤ k·rerank·|Q| ids — the same size class as the probes the
    // broadcast contract already caps.
    val candIds = cands.select(col("neighbor_id")).distinct()
      .collect().map(_.getLong(0)).sorted
    val vecs = (if (candIds.isEmpty) corpus.filter(lit(false))
      else corpus.filter(col(idCol)
        .isInCollection(candIds.toIndexedSeq)))
      .select(col(idCol).as("neighbor_id"),
        col(vecCol).cast("array<double>").as("nv"))
    val qvecs = broadcast(q.select(col(idCol).as("query_id"),
      col(vecCol).cast("array<double>").as("qv")))
    val wE = Window.partitionBy(col("query_id"))
      .orderBy(col("sim").desc, col("neighbor_id").asc)
    // LEFT join + raise_error: an indexed id with no raw vector is a
    // stale index/corpus pairing and must kill the query, not silently
    // vanish from top-k (the inner join's failure mode). Cost: one null
    // check over the ≤ k·rerank·|Q| candidate rows only.
    cands.join(vecs, Seq("neighbor_id"), "left").join(qvecs, Seq("query_id"))
      .withColumn("nv", when(col("nv").isNull, raise_error(concat(
          lit("ivfPqSearchIndexed: index/corpus skew — candidate id "),
          col("neighbor_id").cast("string"),
          lit(" is listed in the index but has no raw vector in " +
            "`corpus`; pair the index with the corpus snapshot it " +
            "encodes"))).cast("array<double>"))
        .otherwise(col("nv")))
      .withColumn("sim", cosine(col("qv"), col("nv")))
      .withColumn("rank", row_number().over(wE).cast("long"))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("neighbor_id"),
              round(col("sim"), 6).as("sim"))
  }

  /** The candidate-generation HALF of [[ivfPqSearchIndexed]]: probe
    * ranking → probed-list partition-pruned index scan →
    * asymmetric-distance ADC → per-query k·rerank window, returning
    * (query_id, neighbor_id) pairs. NOT fully lazy: constructing the
    * plan runs two bounded driver-side jobs (the probes checkpoint and
    * the |Q|·nProbe probed-list collect that becomes the index scan's
    * partition filter); the RETURNED DataFrame is then one lazy plan
    * over the pruned index. Public seam for two reasons: (a) callers
    * that want raw ANN candidates without the exact re-rank (e.g.
    * feeding a downstream ranker) skip the corpus entirely; (b) the
    * physical-layout contracts live on THIS plan — the
    * PartitionFilters-on-cid assert and its unpartitioned row-filter
    * degradation are pinned here by IvfPqIndexLayoutSpec (the re-rank
    * half materializes candidates to push their ids down onto the
    * corpus scan, so the index scan is no longer visible in the final
    * DataFrame's plan).
    */
  def ivfPqCandidates(index: DataFrame, queries: DataFrame, k: Int,
                      coarseCb: Array[Array[Long]],
                      pqCbs: Array[Array[Array[Long]]],
                      nProbe: Int, rerank: Int,
                      scale: Long = 1000000L,
                      idCol: String = "vec_id",
                      vecCol: String = "embedding"): DataFrame = {
    require(coarseCb.nonEmpty,
      "ivfPqCandidates: empty coarse codebook — train on a " +
        "non-empty sample")
    require(pqCbs.nonEmpty && pqCbs.forall(_.nonEmpty),
      "ivfPqCandidates: empty residual codebook (trained on an " +
        "empty corpus?) — there is nothing to encode against")
    val (m, cbSize, sub) = (pqCbs.length, pqCbs(0).length, pqCbs(0)(0).length)
    val cbLit = typedLit(coarseCb.map(_.map(_.toDouble).toSeq).toSeq)
    // each query probes its nProbe top-score lists, carrying the
    // PER-LIST residual the ADC scores against. Materialized ONCE
    // (localCheckpoint — broadcast-small by contract) so the driver
    // collect below and the candidates join read the SAME rows: a
    // non-deterministic `queries` plan (sample, unordered limit)
    // re-evaluated at join time could otherwise probe lists the IN
    // filter already excluded, silently dropping candidates from
    // top-k — and even deterministic plans would compute twice.
    val probes = broadcast(quantized(queries, scale, idCol, vecCol)
      .select(col("id").as("query_id"), col("xd"),
        posexplode(fixedScores(coarseCb)).as(Seq("cid", "score")))
      .withColumn("rnk", row_number().over(Window
        .partitionBy(col("query_id"))
        .orderBy(col("score").desc, col("cid"))))
      .filter(col("rnk") <= nProbe)
      .withColumn("qr", zip_with(col("xd"),
        element_at(cbLit, col("cid") + 1), (x, c) => x - c))
      .select(col("query_id"), col("cid"), col("qr"))
      .localCheckpoint())
    // the probed-list set, collected driver-side (≤ |Q|·nProbe ints —
    // queries are small by the broadcast contract above) and pushed as
    // a literal IN filter: on a cid-partitioned index this prunes at
    // the FILE index (PartitionFilters), the actual 100 TB I/O bound
    val probedLists = probes.select(col("cid")).distinct()
      .collect().map(_.getInt(0)).sorted
    val listed =
      if (probedLists.isEmpty) index.filter(lit(false))
      else index.filter(col("cid").isin(probedLists.toIndexedSeq: _*))
    // rank candidates by the ASYMMETRIC DISTANCE ‖qr − r̂‖² (ascending),
    // which approximates the list-independent ‖x − y‖² — comparable
    // ACROSS probed lists, so raising nProbe buys recall monotonically.
    // (A bare residual dot is not: it drops the per-list x·c_l term and
    // the candidate norm, and measured recall@10 FELL 0.81 → 0.29 as
    // nProbe rose 2 → 8 — PqAdcDist2's scaladoc has the numbers.)
    val adist2 = graft.functions.PqKernels.adcDist2(
      col("qr"), col("codes"), pqCbs.flatten.flatten.map(_.toDouble),
      m, cbSize, sub)
    val wA = Window.partitionBy(col("query_id"))
      .orderBy(col("adist2").asc, col("id").asc)
    // a corpus vector lives in exactly ONE list, so the cid equi-join
    // yields each (query, candidate) pair at most once — no dedup stage
    probes.join(listed, Seq("cid"))
      .filter(col("query_id") =!= col("id"))
      .withColumn("adist2", adist2)
      .withColumn("arnk", row_number().over(wA))
      .filter(col("arnk") <= k * rerank)
      .select(col("query_id"), col("id").as("neighbor_id"))
  }

  /** s20: the RARE event s18's contract defers — the codebook retrains
    * and the assignment state must follow. Scoring is unavoidably a full
    * pass (every vector's argmin may move under new centroids; one
    * broadcast-literal codegen'd scan), but the WRITE volume is the
    * seam: only vectors whose argmin actually changed are rewritten
    * (`moved = true` rows — the inverted-list rows an index must
    * physically relocate); unchanged-argmin rows are carried from the
    * old state by anti-join, never rewritten. Contract (hash-oracled by
    * the s20 gate, which re-trains BOTH codebooks from scratch in
    * DuckDB): final (id, cid) ≡ [[assignFixedPoint]] under the new
    * codebook row-for-row, and `moved` marks exactly the
    * changed-argmin ids (spec-asserted too).
    *
    * `state` is (id, cid) under the OLD codebook, nominally over the
    * SAME corpus — corpus drift is [[maintainAssignments]]'s seam;
    * compose the two for drift + retrain. Drift that leaks through
    * anyway degrades GRACEFULLY, never silently wrongly: a corpus id
    * absent from the state is treated as added (`moved = true` — it
    * must be written somewhere regardless), and a state id absent from
    * the corpus is dropped (removed) — so the final (id, cid) set
    * equals the from-scratch reassignment of `corpus` unconditionally
    * (spec-asserted on a drifted pair).
    */
  def retrainReassign(state: DataFrame, corpus: DataFrame,
                      newCodebook: Array[Array[Long]],
                      scale: Long = 1000000L,
                      idCol: String = "vec_id", vecCol: String = "embedding")
      : DataFrame = {
    val fresh = assignFixedPoint(corpus, newCodebook, scale, idCol, vecCol)
    val moves = fresh
      .join(state.select(col("id"), col("cid").as("__old_cid")),
        Seq("id"), "left")
      .filter(col("__old_cid").isNull || col("cid") =!= col("__old_cid"))
      .select(col("id"), col("cid"))
    val kept = state
      .join(moves.select(col("id")), Seq("id"), "left_anti")
      .join(fresh.select(col("id")), Seq("id"), "left_semi")
    kept.withColumn("moved", lit(false))
      .unionByName(moves.withColumn("moved", lit(true)))
  }

  /** Per-vector exact-integer assignment distance² against a
    * fixed-point codebook: dist2 = ‖xd‖² − max_j (2c_j·xd − ‖c_j‖²) =
    * ‖xd − c_best‖² in micro-units² — the E-step's score complemented
    * to a distance, every term an integer below 2^53 (‖xd‖² ≤ M²·dim
    * and the score bound is [[Magnitude]]'s), so both
    * engines compute it bit-identically. One codegen'd scan, no join —
    * the textbook "distance trending up" drift measurement over a
    * boundary's DELTA vectors (delta-sized, never the corpus).
    *
    * Measured caveat (graft.DriftProbe, r13): on a corpus that is
    * roughly SYMMETRIC about the origin (random-ish embeddings, weak
    * coarse structure), distance is blind to sign-flip drift — a
    * negated vector keeps ‖x‖² and, with near-origin centroids, its
    * best score's magnitude, so its dist2 distribution matches the
    * in-distribution one (far-shares within noise of each other at
    * every threshold percentile, all three SFs). The statistic a list
    * index should TRIGGER on is [[DriftPolicy]]'s moved-share — the
    * fraction of delta vectors whose argmax LIST actually changes —
    * which the same probe measured at 100% on the negated slice vs 0%
    * on in-distribution adds. Keep dist2 for magnitude/monitoring
    * dashboards; gate retrains on moved-share.
    */
  def assignmentDist2(corpus: DataFrame, codebook: Array[Array[Long]],
                      scale: Long = 1000000L,
                      idCol: String = "vec_id", vecCol: String = "embedding")
      : DataFrame =
    quantized(corpus, scale, idCol, vecCol)
      .select(col("id"),
        (dot(col("xd"), col("xd")) - array_max(fixedScores(codebook)))
          .cast("long").as("dist2"))

  /** Train a drift threshold on a REFERENCE corpus (the corpus the
    * current codebook was trained on, production cadence): the exact
    * integer dist2 at rank ⌈pct·n/100⌉ of (dist2 asc, id asc) order —
    * a deterministic rank statistic, not a float quantile estimate, so
    * the retrain DECISION built on it is replayable by an oracle.
    * Follows the trainers' capped-sample convention (`trainCap`
    * smallest-id rows — a threshold needs a sample, not the corpus);
    * both orderings plan as TakeOrderedAndProject (bounded heaps).
    */
  def driftThresholdDist2(reference: DataFrame, codebook: Array[Array[Long]],
                          pct: Int, scale: Long = 1000000L,
                          trainCap: Int = 100000,
                          idCol: String = "vec_id",
                          vecCol: String = "embedding"): Long = {
    require(pct >= 1 && pct <= 100, s"driftThresholdDist2: pct $pct ∉ [1,100]")
    val capped = reference.orderBy(col(idCol)).limit(trainCap)
    val d = assignmentDist2(capped, codebook, scale, idCol, vecCol)
      .localCheckpoint() // counted then ranked — one kernel pass
    val n = d.count()
    require(n > 0, "driftThresholdDist2: empty reference corpus — " +
      "there is no distribution to train a threshold on")
    val rank = math.max(1L, math.ceil(n * pct / 100.0).toLong).toInt
    d.orderBy(col("dist2"), col("id")).limit(rank)
      .orderBy(col("dist2").desc, col("id").desc).limit(1)
      .head().getLong(1)
  }

  /** The drift-retrain decision rule (s29): at a boundary, retrain iff
    * the MOVED-share of the boundary's delta — delta vectors whose
    * fresh exact-integer argmax list differs from their stored
    * assignment, over ALL added∪changed delta vectors (adds have no
    * prior list, so they dilute the denominator but can't move) —
    * reaches movedNumer/movedDenom. Evaluated as the integer
    * cross-product `movedDenom·n_moved ≥ movedNumer·n_tot` (no float
    * ratio, no rounding boundary), and never on an empty delta (a
    * removals-only boundary measures nothing). Moved-share is the
    * statistic an inverted-list index actually cares about — the
    * fraction of rows the current quantizer would physically relocate
    * — and the one graft.DriftProbe measured separating cleanly where
    * the distance statistic is blind (see [[assignmentDist2]]'s
    * caveat). Every number the decision consumes is an exact integer,
    * so an oracle can replay WHICH boundary retrains, not just what
    * the retrain computed.
    */
  final case class DriftPolicy(movedNumer: Long, movedDenom: Long) {
    require(movedDenom > 0 && movedNumer >= 0,
      s"DriftPolicy: ratio $movedNumer/$movedDenom is not a share")
    def triggers(nMoved: Long, nTot: Long): Boolean =
      nTot > 0 && movedDenom * nMoved >= movedNumer * nTot
  }

  /** The list-SKEW split decision rule (s30): an inverted list of
    * `size` rows among `nLists` lists over `nTot` total rows splits iff
    * its size reaches splitNumer/splitDenom of the average list size —
    * evaluated as the integer cross-product `splitDenom·size·nLists ≥
    * splitNumer·nTot` (no float ratio, no rounding boundary; the
    * product is exact for size·nLists < 2⁶³/splitDenom — petascale
    * headroom at production nLists ≈ √n). Singleton lists never split
    * (a 2-means needs two seeds). Skew is the drift mode [[DriftPolicy]]
    * does NOT catch: every delta vector can land in its argmax list
    * (moved-share 0) while one list absorbs the whole delta — serving
    * cost is proportional to PROBED-list size, so a hot list degrades
    * every query that probes it even though no assignment is stale.
    */
  final case class RebalancePolicy(splitNumer: Long, splitDenom: Long) {
    require(splitDenom > 0 && splitNumer > 0,
      s"RebalancePolicy: ratio $splitNumer/$splitDenom is not a size factor")
    def splits(size: Long, nLists: Int, nTot: Long): Boolean =
      size >= 2 && splitDenom * size * nLists >= splitNumer * nTot
  }

  /** The NORM-COLLAPSE tripwire (r15 verdict #2): r15 measured that a
    * norm-skewed clump (vectors at 1/64 scale sharing residual-PQ
    * codebooks with natural-scale vectors) silently destroys ADC
    * recall (0.235@10) while EVERY existing monitor stays quiet —
    * moved-share reads 0 (each clump vector can sit in its argmax
    * list) and the census only sees cardinality, not scale. The
    * dispersion statistic is the corpus's squared-norm ENVELOPE
    * (minN2, maxN2): exact integers (Σx² of the quantized vector), so
    * the flag decision is oracle-replayable. Flags when the norm
    * RATIO max/min exceeds ratioNumer/ratioDenom, i.e. the integer
    * cross-product `ratioDenom²·maxN2 > ratioNumer²·minN2` (norm² is
    * the square of the norm, hence the squared ratio). The
    * cross-products are computed in BigInt ON PURPOSE — do not
    * "optimize" them back to Long: numer²·minN2 exceeds 2⁶³ at
    * perfectly legitimate operating points (a 64× bar on a 2⁵¹
    * envelope), and a wrapped Long product silently INVERTS the flag
    * on exactly the anomalous input the tripwire exists to catch
    * (r16 review). The decision is two driver-side multiplications
    * per boundary, so exactness costs nothing. A zero vector
    * (minN2 = 0) always flags — it is unservable under cosine anyway.
    * The flag's documented operator action: L2-normalize the ingest
    * ([[l2Normalize]] — the measured 0.920-recall recipe, RECALL.json
    * `normalized_adc`) or re-train the quantizers; a rebalance CANNOT
    * recover it (measured: the cut holds 0.235, a full retrain only
    * 0.485). The envelope is maintained monotonically (adds/changes
    * widen it; removals never narrow it) — a deliberate
    * over-approximation: once a collapse has been seen the tripwire
    * stays tripped until the operator re-baselines, never the reverse.
    *
    * `recover` (s41, r17 — the r16 verdict's #3) EXECUTES that named
    * action instead of only flagging it, on the composed IVFADC loop
    * ([[graft.streaming.ContinuousIndexMaintenance.continuousIvfPqWithRetrain]]):
    * the first flagged boundary switches the loop's ENCODE SPACE to
    * fixed-point-normalized ([[l2NormalizeFixedPoint]] — the 0.920
    * recipe made exactly replayable), re-trains both quantizer stages
    * on the normalized post-delta corpus, re-encodes the whole corpus,
    * and persists the mode in the norm lineage so every later
    * boundary's delta encode, drift statistic, and retrain stay in
    * normalized space. The corpus lineage keeps RAW vectors (the
    * source of truth; normalization is an encode-path property), the
    * raw envelope keeps recording (the ingest anomaly is still real
    * and still monotone), and the recovery fires at most once per
    * lineage — recorded in `RetrainRun.normRecoveredAt`. The
    * assignment loop stays flag-only BY DESIGN: the measured
    * 0.235-recall catastrophe is an ADC property (residual codebooks
    * shared across norm regimes); the exact-integer argmax path
    * degrades far more gently and its operator holds the retrain
    * lever already.
    */
  final case class NormPolicy(ratioNumer: Long, ratioDenom: Long,
                              recover: Boolean = false) {
    require(ratioDenom > 0 && ratioNumer > 0 && ratioNumer >= ratioDenom,
      s"NormPolicy: ratio $ratioNumer/$ratioDenom is not a norm factor ≥ 1")
    // BigInt cross-products: numer²·minN2 can reach 2⁶³ at a 64× bar on
    // a 2⁵¹ envelope — a Long product would wrap negative and silently
    // invert the flag (r16 review); the decision is two driver-side
    // multiplications, so exactness costs nothing
    def flags(minN2: Long, maxN2: Long): Boolean =
      BigInt(ratioDenom) * BigInt(ratioDenom) * BigInt(maxN2) >
        BigInt(ratioNumer) * BigInt(ratioNumer) * BigInt(minN2)
  }

  /** The exact-integer squared-norm envelope of `df`'s quantized
    * vectors — (minN2, maxN2), the [[NormPolicy]] statistic. One
    * delta-sized aggregate (Σx² per row, then min/max); None on an
    * empty frame.
    */
  def normEnvelope(df: DataFrame, scale: Long = 1000000L,
                   idCol: String = "vec_id",
                   vecCol: String = "embedding"): Option[(Long, Long)] = {
    // xd is integer-VALUED doubles (the fixed-point convention): Σx²
    // ≤ M²·dim, kept under 2⁵³ by the bespoke check below — every
    // partial sum of the left-to-right fold is then an exact integer
    // double and the Long cast lossless. The check is ENFORCED here,
    // not assumed (r16 review): the tripwire runs on raw ingest
    // deltas no trainer has vetted, and an upward norm anomaly big
    // enough to overflow the sum is exactly the event it must not
    // mis-measure — out-of-range input fails loud instead. The bound
    // is the ENVELOPE's own (dim·M² < 2⁵³, per-row exactness), not
    // the trainers' Magnitude guard (r16 advice): its second clause
    // bounds n·M update SUMS that do not exist here,
    // and would fail loudly on very large corpora whose envelope
    // arithmetic is perfectly exact.
    // ONE aggregate job (r17, guide §1.2 — this ran per boundary as a
    // checkpoint + a bounds aggregate + a min/max aggregate, three jobs
    // for one delta-sized statistic): the exactness bound and the
    // envelope are computed in the same pass, and the bound is CHECKED
    // before the envelope values are trusted — a violating row makes
    // the require throw and the (garbage) n2 extremes are never used,
    // the same fail-loud contract as the three-job shape.
    // a row whose Σx² reaches 2⁵³ fails the bound below; masked out of
    // the Long cast, it cannot raise an ANSI overflow before the named
    // error (the trainers' Magnitude.masked rule)
    val n2 = aggregate(col("xd"), lit(0.0d), (acc, x) => acc + x * x)
    val r = quantized(df, scale, idCol, vecCol)
      .select(col("xd"),
        when(n2 < lit(math.pow(2, 53)), n2).cast("long").as("n2"))
      .agg(
        max(array_max(transform(col("xd"), x => abs(x)))).as("m"),
        max(size(col("xd"))).as("dim"),
        min(col("n2")).as("minN2"), max(col("n2")).as("maxN2")).head()
    // the bound is checked first: when every row is masked, the n2
    // extremes are null but the magnitude is not
    val m = if (r.isNullAt(0)) 0.0 else r.getDouble(0)
    val dim = if (r.isNullAt(1)) 0 else r.getInt(1)
    require(m * m * math.max(dim, 1) < math.pow(2, 53),
      f"normEnvelope: quantized magnitude $m%.0f at dim=$dim " +
        f"(scale=$scale) overflows the 2^53-exact per-row Σx² — " +
        "the envelope would silently stop being integer " +
        "arithmetic; lower the scale")
    // emptiness is decided on the n2 extremes, NOT the magnitude bound
    // (r17 advice): a frame whose every vector is EMPTY has null m
    // (array_max of an empty array) but n2 = 0 per row — the fused pass
    // must return Some((0, 0)) exactly like the pre-fusion two-pass
    // shape, so the norm-collapse tripwire widens to zero instead of
    // keeping a stale envelope
    if (r.isNullAt(2)) None else Some((r.getLong(2), r.getLong(3)))
  }

  /** IVF list-skew rebalance (gate s30): split every overloaded
    * inverted list — [[RebalancePolicy]] decides WHICH, measured
    * against the exact-integer size census — into two sub-lists via a
    * per-list fixed-point 2-means (id-order seeds, `maxIter` Lloyd
    * iterations, the same exact-integer score/floor-mean/empty-carry
    * conventions as [[kmeansTrainFixedPoint]], fused across all split
    * lists in one plan). Sub-cluster 0 keeps the original list id;
    * sub-cluster 1 gets a NEW dense id `nLists + rank(cid)` — so
    * un-split lists, their files, and their assignments are untouched,
    * exactly what a partitioned index layout wants from a rebalance.
    * Returns (assignment movement, updated codebook): the movement is
    * one row per corpus vector `(vec_id, old_cid, cid)` — the physical
    * relocation plan, where `old_cid ≠ cid` rows are the only index
    * rows to rewrite — and the codebook replaces each split centroid
    * with its sub-0 centroid and appends the sub-1 centroids in split
    * order, ready for [[assignFixedPoint]] / [[ivfSearchFixedPoint]].
    * Degenerate-seed caveat: a split list whose two smallest-id members
    * are IDENTICAL vectors seeds both sub-centroids equally, every
    * member ties to sub 0, and the appended sub-1 entry serves an
    * empty list — deterministic and oracle-matched (the numbering is
    * decided by the census, not the landing), harmless to answers, and
    * exactly the starvation [[mergeLists]] retires. Callers that need
    * guaranteed movement use [[splitListsEven]], whose rank chunks
    * cannot land empty.
    *
    * Movement: the census is one groupBy(cid) aggregate (bounded nLists
    * rows to the driver, carrying the exactness guard); seeds are
    * 2·|split| bounded rows; each Lloyd iteration is ONE scan of the
    * split lists' members (codegen'd per-list argmax over sub-centroid
    * array literals indexed by cid — no join, no per-list branch, so
    * any number of split lists plans the same) whose update shuffle
    * carries ≤ 2·|split|·dim partials after map-side combine; un-split
    * rows never enter any of it. Cost is Θ(Σ size of split lists),
    * never a corpus pass. Every number — census, decision, seeds,
    * scores, floor-means, final argmax — is an exact integer, so the
    * DuckDB oracle replays WHICH lists split AND where every member
    * lands (the s20/s29 standard: decision and effect both hash-pinned).
    */
  def rebalanceLists(corpus: DataFrame, codebook: Array[Array[Long]],
                     policy: RebalancePolicy, maxIter: Int = 2,
                     scale: Long = 1000000L,
                     idCol: String = "vec_id", vecCol: String = "embedding")
      : (DataFrame, Array[Array[Long]]) = {
    val k = codebook.length
    require(k > 0, "rebalanceLists: empty codebook — nothing to rebalance")
    val (q, sizes, _) = listCensus("rebalanceLists", corpus, codebook, scale,
      idCol, vecCol)
    splitCut(q, sizes, codebook, policy) { (members, _) =>
      // seeds: the 2 smallest-id members of each split list (bounded
      // 2·|split| rows — the id-order init convention of every trainer)
      val seedRows = members
        .withColumn("rn", row_number().over(
          Window.partitionBy(col("cid0")).orderBy(col("id"))))
        .filter(col("rn") <= 2)
        .select(col("cid0"), col("rn"), col("xd")).collect()
      var sub: Map[Long, Array[Array[Long]]] = seedRows
        .groupBy(_.getLong(0))
        .map { case (cid, rows) =>
          cid -> rows.sortBy(_.getInt(1))
            .map(_.getSeq[Double](2).map(_.toLong).toArray)
        }
      // per-row score pair against the row's OWN list's sub-centroids:
      // [[fixedScores]]' 2c and Σc² doubles in array literals indexed by
      // cid0 — one lookup per row whatever the split-set size, no join
      def withSub(df: DataFrame, cents: Map[Long, Array[Array[Long]]]): DataFrame = {
        val at = col("cid0").cast("int") + 1
        df.withColumn("part", nearestOfDots(array((0 to 1).map { j =>
          val c = Seq.tabulate(k)(i => cents.get(i.toLong).fold(Array.empty[Long])(_(j)))
          dot(col("xd"), element_at(typedLit(c.map(_.map(x => (2 * x).toDouble).toSeq)), at)) -
            element_at(typedLit(c.map(_.map(x => x.toDouble * x.toDouble).sum)), at)
        }: _*)))
      }
      for (_ <- 0 until maxIter) {
        val updated = floorMeans(withSub(members, sub)
          .select(col("cid0"), col("part"), posexplode(col("xd")).as(Seq("p", "x"))),
          Seq("cid0", "part"))
        sub = sub.map { case (cid, cents) =>
          cid -> Array(
            updated.getOrElse(Seq(cid, 0L), cents(0)),
            updated.getOrElse(Seq(cid, 1L), cents(1)))
        }
      }
      (withSub(members, sub), sub)
    }
  }

  /** The cut both list splitters share, over a [[listCensus]] frame `q`
    * (unpersisted here): `policy` picks the lists to split, and `cut`
    * gives each of their members a `part` and each list its part
    * centroids. Part 0 keeps the list id and replaces its centroid; part
    * j ≥ 1 gets the dense new id base(cid) + j − 1 in (cid, part) order,
    * its centroid appended in that order. Returns the movement (one
    * `(id, old_cid, cid)` row per corpus vector) and the codebook.
    */
  private def splitCut(q: DataFrame, census: Map[Long, Long],
                       codebook: Array[Array[Long]], policy: RebalancePolicy)(
      cut: (DataFrame, Seq[Long]) => (DataFrame, Map[Long, Array[Array[Long]]]))
      : (DataFrame, Array[Array[Long]]) = {
    val k = codebook.length
    val nTot = census.values.sum
    val splitCids = census.toSeq.collect {
      case (cid, n) if policy.splits(n, k, nTot) => cid
    }.sorted
    def stay(df: DataFrame) =
      df.select(col("id"), col("cid0").as("old_cid"), col("cid0").as("cid"))
    // the plans stay valid after unpersist: the cache only served the
    // census and the cut's driver-side passes
    if (splitCids.isEmpty) { q.unpersist(); return (stay(q), codebook) }
    val (parts, cents) = cut(q.filter(col("cid0").isin(splitCids: _*)), splitCids)
    val baseOf: Map[Long, Long] = splitCids
      .scanLeft(k.toLong) { case (acc, c) => acc + cents(c).length - 1 }
      .zip(splitCids).map { case (b, c) => c -> b }.toMap
    val moved = parts.select(col("id"), col("cid0").as("old_cid"),
      when(col("part") === 0, col("cid0"))
        .otherwise(element_at(typedLit(baseOf), col("cid0")) + col("part") - 1)
        .as("cid"))
    val newCb = codebook.zipWithIndex.map { case (c, i) =>
      cents.get(i.toLong).fold(c)(_(0))
    } ++ splitCids.flatMap(c => cents(c).tail)
    q.unpersist()
    (stay(q.filter(!col("cid0").isin(splitCids: _*))).unionByName(moved), newCb)
  }

  /** The list census the coarse-list cuts share: the quantized corpus
    * (id, xd, cid0) listed by its fresh argmax under `codebook`, or by
    * the supplied (id, cid) `state` (left join: a corpus row the state
    * lacks gets a null cid0), persisted, then ONE groupBy(cid0)
    * aggregate whose rows also carry the [[Magnitude]] guard, checked
    * here before anything is returned. Returns the persisted frame (the
    * caller unpersists it), list → size, and the null-cid0 row count.
    */
  private def listCensus(op: String, corpus: DataFrame,
                         codebook: Array[Array[Long]], scale: Long,
                         idCol: String, vecCol: String,
                         state: Option[DataFrame] = None)
      : (DataFrame, Map[Long, Long], Long) = {
    val x = quantized(corpus, scale, idCol, vecCol)
    val q = state.fold(x.withColumn("cid0",
        nearestOfDots(fixedScores(codebook)).cast("long"))) { st =>
      x.join(st.select(col("id"), col("cid").as("cid0")), Seq("id"), "left")
    }.persist()
    val rows = q.groupBy(col("cid0")).agg(Magnitude.xd.head, Magnitude.xd.tail: _*)
      .collect()
    Magnitude.of(rows).check(op, scale)
    val (listed, orphans) = rows.partition(!_.isNullAt(0))
    (q, listed.map(r => r.getLong(0) -> r.getLong(3)).toMap,
      orphans.map(_.getLong(3)).sum)
  }

  /** Fails `op` loudly, naming the count, when `state` holds an id
    * `corpusIds` lacks: such a row would vanish or be stranded
    * (`consequence`) — the caller paired a stale corpus with a newer
    * `rows` table. One anti-join count over id columns only.
    */
  private def requireNoGhosts(op: String, state: DataFrame,
                              corpusIds: DataFrame, rows: String,
                              consequence: String): Unit = {
    val ghosts = state.select(col("id"))
      .join(corpusIds, Seq("id"), "left_anti").count()
    require(ghosts == 0L,
      s"$op: $ghosts $rows rows have no corpus vector — $consequence; " +
        s"the caller paired a stale corpus with a newer $rows")
  }

  /** IVF list-skew split, LOAD-BALANCED (gate s33) — the splitter the
    * continuous census monitor (s34) uses where [[rebalanceLists]]'s
    * 2-means is the geometric one-shot. Measured motivation
    * (graft.ListSkewProbe, r14): on the staged hot-region corpus the
    * 2-means split is blind to a TIGHT clump — the hot list is one
    * genuine cluster, so Lloyd cuts clump-vs-stragglers (286 → 260/26
    * at sf0.001) and the big child re-crosses every sane bar; a
    * monitor wired to it would re-trigger forever. This splitter
    * balances BY CONSTRUCTION: each overloaded list is cut into
    * `max(2, ⌈size/T⌉)` rank-range chunks (T = ⌈nTot/nLists⌉, the
    * ceiling average; the floor of 2 keeps a bar-crossing list from
    * "splitting" into one chunk on tiny-corpus shapes), members ranked
    * by the exact integer value on the list's max-spread dimension
    * (ties → id), chunk = ⌊(rank−1)·nChunks/size⌋ — every child ≤
    * max(T, ⌈size/2⌉), so ONE pass settles any census bar ≥
    * T·nLists/nTot plus slack, and the monitor provably quiesces. Chunk 0 keeps the list id (its directory
    * shrinks in place under [[applyMovementPartitioned]]); chunks ≥ 1
    * get dense new ids in (cid, chunk) order. Returns the same
    * (movement, updated codebook) contract as [[rebalanceLists]]:
    * replaced centroid = chunk 0's floor-mean, appended centroids =
    * the other chunks' floor-means. Every step — census, decision,
    * spread, rank, chunk arithmetic, floor-means — is exact integers,
    * DuckDB-replayable end to end.
    *
    * Movement: census aggregate + one spread aggregate over split
    * members + one ranked scan of split members (window per split
    * list) + one chunk-keyed floor-mean aggregate; un-split rows never
    * enter any of it. Θ(Σ split-list sizes), never a corpus pass.
    *
    * RETRIEVAL-QUALITY CONTRACT (measured r15 — RECALL.json
    * `postRebalance`, floors in RebalanceRecallSpec): rank chunks are
    * NOT Voronoi cells of their floor-mean centroids, so
    * [[ivfSearchState]] recall over a cut index was measured, not
    * assumed. At the BUDGET-ADJUSTED operating point — hold the
    * scanned fraction across the cut, nProbe′ = ⌈nProbe·nLists′/
    * nLists⌉ — the cut index answers within 0.06 recall of pre-cut at
    * strictly fewer scanned rows, and one step up beats it outright;
    * at the high-budget end it dominates (sf0.1: 0.895 vs 0.890 at
    * 24% fewer rows) while the hottest probed list shrinks 16× (the
    * worst-case-latency win the cut exists for). A Voronoi-relisting
    * control of the same expanded codebook brackets the listing
    * geometry within ~0.13 mid-range (and a kd-box splitter measured
    * NO better — RECALL.json note #4): mid-budget recall loss under
    * skew is probe dilution plus the stale codebook, and its recovery
    * lever is the DRIFT-triggered retrain (s29/s37), not list
    * geometry. Callers that cut must carry the nProbe adjustment.
    */
  def splitListsEven(corpus: DataFrame, codebook: Array[Array[Long]],
                     policy: RebalancePolicy, scale: Long = 1000000L,
                     idCol: String = "vec_id", vecCol: String = "embedding",
                     state: Option[DataFrame] = None)
      : (DataFrame, Array[Array[Long]]) = {
    val k = codebook.length
    require(k > 0, "splitListsEven: empty codebook — nothing to split")
    // `state` (the s34 loop): the CURRENT on-disk (id, cid) assignment.
    // After a previous split the served state is rank-chunked — NOT the
    // fresh argmax — so a later cut must base on what is physically in
    // each list, or its movement would silently mass-reassign rows the
    // census never tracked. Without `state` (the one-shot gates) the
    // fresh E-step IS the state, by the maintenance theorem.
    val (q, census, orphans) = listCensus("splitListsEven", corpus, codebook,
      scale, idCol, vecCol, state)
    state.foreach { st =>
      // BOTH directions (r14 advice): a corpus row without a state row
      // enters the census as the null list (counted by the census
      // itself), and a state row without a corpus row is a seat the
      // census would count but the cut could never move — either way
      // the caller paired a stale state with a mismatched corpus.
      require(orphans == 0L,
        s"splitListsEven: $orphans corpus rows missing from the supplied " +
          "assignment state — the caller paired a stale state with a " +
          "newer corpus; refusing to silently drop them")
      requireNoGhosts("splitListsEven", st, q.select(col("id")), "state",
        "their seats would be censused but uncuttable")
    }
    splitCut(q, census, codebook, policy) { (members, splitCids) =>
      val target = (census.values.sum + k - 1) / k // T = ⌈average list size⌉
      // a list can cross the bar yet have size ≤ T (tiny-corpus shapes:
      // bar·avg below the ceiling average) — ⌈size/T⌉ would then be ONE
      // chunk, a "split" that moves nothing while the census stays
      // crossed, re-triggering a monitor forever. A crossing list always
      // cuts into at least two chunks; halving strictly shrinks, so the
      // monitor still terminates.
      val nChunksOf: Map[Long, Long] =
        splitCids.map(c =>
          c -> math.max(2L, (census(c) + target - 1) / target)).toMap
      // the split axis per list: the dimension with max integer spread
      // (ties → lower dim) — one bounded aggregate (|split|·dim rows)
      val axisOf: Map[Long, Int] = members
        .select(col("cid0"), posexplode(col("xd")).as(Seq("pos", "x")))
        .groupBy(col("cid0"), col("pos"))
        .agg((max(col("x")) - min(col("x"))).as("spread"))
        .collect().groupBy(_.getLong(0))
        .map { case (cid, rows) =>
          cid -> rows.map(r => (r.getInt(1), r.getDouble(2)))
            .minBy { case (pos, spread) => (-spread, pos) }._1
        }
      // per-list scalars enter the plan as MAP literals (element_at is one
      // codegen'd lookup whatever the split-set size — the r14 verdict's
      // CASE-breadth concern never arises for scalar routing; the chunk
      // arithmetic keeps the exact float shape the oracle replays:
      // integer-exact product in double, then double divide, then floor)
      val ncD = typedLit(nChunksOf.map { case (c, n) => c -> n.toDouble })
      val czD = typedLit(splitCids.map(c => c -> census(c).toDouble).toMap)
      val ranked = members
        .withColumn("ax",
          element_at(col("xd"), element_at(typedLit(axisOf), col("cid0")) + 1))
        .withColumn("rk", row_number().over(
          Window.partitionBy(col("cid0")).orderBy(col("ax"), col("id"))))
        .withColumn("part",
          floor((col("rk") - 1) * element_at(ncD, col("cid0")) /
            element_at(czD, col("cid0"))).cast("long"))
      // chunk floor-mean centroids (bounded: Σ nChunks ≤ nTot/T + |split|)
      val cents = floorMeans(ranked.select(col("cid0"), col("part"),
        posexplode(col("xd")).as(Seq("p", "x"))), Seq("cid0", "part"))
      (ranked, splitCids.map(c =>
        c -> (0L until nChunksOf(c)).map(ch => cents(Seq(c, ch))).toArray).toMap)
    }
  }

  /** IVFADC list-skew rebalance (gate s37, r15) — [[splitListsEven]]
    * lifted to the COMPOSED (id, cid, codes) production index: census
    * the PHYSICAL lists (the index's cid column is the state — after
    * drift the lists are whatever maintenance landed, not a fresh
    * argmax), cut every overloaded one into rank chunks (the s33
    * arithmetic exactly, over the corpus vectors of the index's
    * members), and re-encode the RESIDUAL CODES of every SPLIT-LIST
    * member against its chunk's floor-mean centroid. Chunk 0 members
    * re-encode too: the cut REPLACES the split centroid with chunk 0's
    * floor-mean, so every old code in that list quantized a residual
    * against a centroid that no longer exists — carrying them would
    * silently corrupt every ADC distance in the rebalanced lists (the
    * r14 ADC lesson, met by construction instead of by measurement
    * this time). Un-split lists' rows are carried VERBATIM
    * (spec-asserted row-for-row): their centroid, residuals, and codes
    * are all untouched, which is what makes the apply Θ(split sizes)
    * in both compute and — through [[applyMovementVersioned]], whose
    * movement rows may carry the codes as payload — I/O. The shared
    * residual-PQ codebooks are NOT retrained (that is the drift/marker
    * retrain's job, s27); retrieval quality of the cut ADC index is
    * measured in RECALL.json `postRebalanceAdc` with the budget-
    * adjusted operating point, and floored in IvfPqRecallSpec.
    * Returns (rebalanced index, expanded coarse codebook) ready for
    * [[ivfPqSearchIndexed]].
    *
    * Movement: the s33 cut (census + spread + ranked scan of split
    * members) + ONE quantized corpus scan semi-joined down to split
    * members for the re-encode kernel; un-split rows never enter the
    * re-encode. Exact integers end to end — census, cut, residuals,
    * codes — so the DuckDB oracle replays decision AND effect.
    */
  def rebalanceIvfPqIndex(index: DataFrame, corpus: DataFrame,
                          coarseCb: Array[Array[Long]],
                          pqCbs: Array[Array[Array[Long]]],
                          policy: RebalancePolicy, scale: Long = 1000000L,
                          idCol: String = "vec_id",
                          vecCol: String = "embedding")
      : (DataFrame, Array[Array[Long]]) = {
    val (idx, cb, _) = rebalanceIvfPqMovement(index, corpus, coarseCb,
      pqCbs, policy, scale, idCol, vecCol)
    (idx, cb)
  }

  /** [[rebalanceIvfPqIndex]] exposing the cut's MOVEMENT alongside the
    * rebalanced index — (index, expanded codebook, movement). The
    * movement is [[splitListsEven]]'s `(id, old_cid, cid)` contract
    * (identity rows for an uncut census); the continuous census
    * monitor (s39) consumes it to advance its exact-integer census
    * incrementally (split lists' mover counts) instead of re-scanning
    * the index, and a versioned-layout deployment feeds it (with the
    * re-encoded codes joined on as payload) to
    * [[applyMovementVersioned]].
    */
  private[graft] def rebalanceIvfPqMovement(index: DataFrame,
      corpus: DataFrame, coarseCb: Array[Array[Long]],
      pqCbs: Array[Array[Array[Long]]], policy: RebalancePolicy,
      scale: Long = 1000000L, idCol: String = "vec_id",
      vecCol: String = "embedding")
      : (DataFrame, Array[Array[Long]], DataFrame) = {
    val state = index.select(col("id"), col("cid").cast("long").as("cid"))
    val (movement, newCb) = splitListsEven(corpus, coarseCb, policy,
      scale, idCol, vecCol, state = Some(state))
    if (newCb.length == coarseCb.length) return (index, coarseCb, movement)
    val mv = movement.localCheckpoint() // split-set + re-encode reads
    // a list is split iff it has movers (chunks ≥ 1 are never empty);
    // chunk-0 stayers share their movers' old_cid, so this names every
    // list whose centroid the cut replaced — bounded by nLists
    val splitSet = mv.filter(col("cid") =!= col("old_cid"))
      .select(col("old_cid")).distinct().collect()
      .map(_.getLong(0)).toSet
    val carried = index
      .filter(!col("cid").isin(splitSet.toSeq: _*))
      .select(col("id"), col("cid").cast("long").as("cid"), col("codes"))
    val reenc = encodeAtState(corpus,
      mv.filter(col("old_cid").isin(splitSet.toSeq: _*))
        .select(col("id"), col("cid")),
      newCb, pqCbs, scale, idCol, vecCol,
      // movement rows are splitListsEven's own corpus scan — state ⊆
      // corpus by construction, and the bidirectional check above it
      // already ran; skip the redundant ghost count
      validate = false)
    (carried.unionByName(reenc), newCb, mv)
  }

  /** [[ivfPqEncodeFixedPoint]] against a SUPPLIED (id, cid) assignment:
    * residual codes computed for the list each vector PHYSICALLY sits
    * in rather than its fresh argmax — the encode twin of
    * [[ivfSearchState]], and the re-encode kernel of
    * [[rebalanceIvfPqIndex]] (after a cut the landed list is a rank
    * chunk, not the argmax, and the residual must subtract THAT
    * chunk's centroid or every ADC distance in the list is garbage).
    * One quantized scan + one id-equi-join against the supplied state.
    * The id join is INNER, so a state row with no corpus vector would
    * silently vanish from the encode — the silent-drop class
    * [[splitListsEven]] fails loudly on. `validate` (default ON — the
    * function is public and the loud-failure contract must not depend
    * on every call site remembering, r15 advice) counts those ghosts
    * and fails with the direction named; internal callers whose state
    * is DERIVED from the same corpus scan (so state ⊆ corpus by
    * construction: [[rebalanceIvfPqIndex]]'s movement rows,
    * [[mergeIvfPqIndex]]'s orphan argmax) pass `validate = false` and
    * skip the bounded count.
    */
  def encodeAtState(corpus: DataFrame, state: DataFrame,
                    coarseCb: Array[Array[Long]],
                    pqCbs: Array[Array[Array[Long]]],
                    scale: Long = 1000000L,
                    idCol: String = "vec_id",
                    vecCol: String = "embedding",
                    validate: Boolean = true): DataFrame = {
    require(coarseCb.nonEmpty, "encodeAtState: empty coarse codebook")
    if (validate)
      requireNoGhosts("encodeAtState", state, corpus.select(col(idCol).as("id")),
        "state", "they would silently vanish through the encode's inner join")
    val cbLit = typedLit(coarseCb.map(_.map(_.toDouble).toSeq).toSeq)
    quantized(corpus, scale, idCol, vecCol)
      .join(state.select(col("id"), col("cid").cast("long").as("cid")),
        Seq("id"))
      .withColumn("rd", zip_with(col("xd"),
        element_at(cbLit, col("cid").cast("int") + 1), (x, c) => x - c))
      .select(col("id"), col("cid"),
        pqEncodeFixed(pqCbs, col("rd")).as("codes"))
  }

  /** The list-STARVATION merge decision rule (s31, [[RebalancePolicy]]'s
    * complement): a list of `size` rows merges away iff its size is AT
    * OR BELOW mergeNumer/mergeDenom of the average — the integer
    * cross-product `mergeDenom·size·nLists ≤ mergeNumer·nTot`. Empty
    * lists always merge (size 0 passes every bar). A starved list is
    * the other half of the skew pathology: it wastes a probe slot —
    * a query that spends one of its nProbe probes on a near-empty list
    * sees almost no candidates from it, degrading recall at fixed cost.
    */
  final case class MergePolicy(mergeNumer: Long, mergeDenom: Long) {
    require(mergeDenom > 0 && mergeNumer > 0,
      s"MergePolicy: ratio $mergeNumer/$mergeDenom is not a size factor")
    def merges(size: Long, nLists: Int, nTot: Long): Boolean =
      mergeDenom * size * nLists <= mergeNumer * nTot
  }

  /** IVF list-starvation merge (gate s31) — [[rebalanceLists]]'s
    * complement, the two halves of one census event: retire every
    * starved list ([[MergePolicy]] decides WHICH against the same
    * exact-integer census) and re-encode ITS members against the
    * surviving centroids — each merged member moves to its fresh
    * exact-integer argmax among survivors, the plain E-step restricted
    * to the surviving codebook, NOT a bulk move to one target list (a
    * retired centroid's members are exactly the vectors whose
    * second-best list now matters individually). Survivors renumber
    * densely in cid order — a METADATA rename: at production the
    * movement DF is the cid-mapping table; no survivor file rewrites,
    * since every survivor member's row carries old_cid = the physical
    * location it keeps. Returns (movement, surviving codebook): one
    * `(vec_id, old_cid, cid)` row per corpus vector, and the codebook
    * [[assignFixedPoint]]/[[ivfSearchFixedPoint]] serve next.
    *
    * Movement: one census aggregate (bounded nLists rows driver-side),
    * then ONE scan emitting both halves — survivor members map their
    * cid through a literal rank map (no join), merged members run the
    * codegen'd argmax over the survivor codebook literals (no join).
    * Cost is one corpus scan regardless of how many lists retire.
    * Every number is an exact integer, so the DuckDB oracle replays
    * WHICH lists retire AND where every orphaned member lands.
    */
  def mergeLists(corpus: DataFrame, codebook: Array[Array[Long]],
                 policy: MergePolicy, scale: Long = 1000000L,
                 idCol: String = "vec_id", vecCol: String = "embedding")
      : (DataFrame, Array[Array[Long]]) = {
    val k = codebook.length
    require(k > 0, "mergeLists: empty codebook — nothing to merge")
    val (q, census, _) = listCensus("mergeLists", corpus, codebook, scale,
      idCol, vecCol)
    val (merged, survivors, rankOf, survCb) =
      mergeDecision("mergeLists", codebook, census, policy)
    val kept = q.filter(col("cid0").isin(survivors: _*))
      .select(col("id"), col("cid0").as("old_cid"),
        element_at(typedLit(rankOf), col("cid0")).as("cid"))
    val out =
      if (merged.isEmpty) kept
      else kept.unionByName(
        q.filter(col("cid0").isin(merged: _*))
          .select(col("id"), col("cid0").as("old_cid"),
            // survCb is in survivor-cid order, so the argmax INDEX is
            // already the dense new cid — no second mapping
            nearestOfDots(fixedScores(survCb)).cast("long").as("cid")))
    q.unpersist() // same single-consumption-scan note as splitCut
    (out, survCb)
  }

  /** The merge decision [[mergeLists]] and [[mergeIvfPqIndex]] share:
    * against the list census, the lists `policy` retires, the survivors
    * in cid order, each survivor's dense new cid (its rank) and the
    * surviving codebook in that order. Fails `op` loudly when the bar
    * retires every list.
    */
  private def mergeDecision(op: String, codebook: Array[Array[Long]],
                            census: Map[Long, Long], policy: MergePolicy)
      : (Seq[Long], Seq[Long], Map[Long, Long], Array[Array[Long]]) = {
    val k = codebook.length
    val nTot = census.values.sum
    val (merged, survivors) = (0L until k.toLong)
      .partition(c => policy.merges(census.getOrElse(c, 0L), k, nTot))
    require(survivors.nonEmpty,
      s"$op: the ${policy.mergeNumer}/${policy.mergeDenom} bar " +
        "retires every list — there is no codebook left to serve; lower it")
    (merged, survivors, survivors.zipWithIndex.map { case (c, i) => c -> i.toLong }.toMap,
      survivors.map(c => codebook(c.toInt)).toArray)
  }

  /** Apply a [[rebalanceLists]] movement to a cid-PARTITIONED on-disk
    * assignment index, rewriting ONLY the partitions the movement
    * touches (gate s32) — the I/O half of the rebalance contract: at
    * 100 TB the movement names a handful of hot lists, and applying it
    * must cost Θ(size of touched lists), never an index rewrite. A
    * partition is touched iff it loses rows (a split source keeps its
    * sub-0 stayers but must drop its movers) or gains rows (a fresh
    * sub-1 id). Implementation: one dynamic-partition-overwrite write
    * of EXACTLY the rows landing in touched cids — Spark's dynamic
    * mode replaces only the partitions present in the written data, so
    * untouched `cid=` directories are never opened, rewritten, or even
    * listed by the write (asserted file-for-file in RebalanceSpec) —
    * plus a bounded driver-side delete of any touched source directory
    * the movement fully drained (dynamic overwrite cannot rewrite a
    * partition to empty). Returns the read-back table.
    *
    * ISOLATION CONTRACT — OFFLINE ONLY (r14 verdict #2): this one-shot
    * apply mutates `path` IN PLACE, so a concurrent reader of the same
    * directory can observe a half-applied movement (some touched dirs
    * rewritten, others not yet — the corruption the Loop's versioned
    * states are spec-proven immune to). Use it only on an index no
    * query is serving; a serve-while-applying deployment must use
    * [[applyMovementVersioned]], whose readers resolve a manifest and
    * never see a version before its last-written commit file exists.
    * Note also: the dynamic overwrite toggles the SESSION-global
    * `spark.sql.sources.partitionOverwriteMode` around the write
    * (restored in `finally`) — racy if other writers share the session,
    * one more reason this path is offline-only.
    */
  def applyMovementPartitioned(movement: DataFrame, path: String,
                               idCol: String = "vec_id"): DataFrame = {
    val spark = movement.sparkSession
    val mv = movement.localCheckpoint() // census + write read it twice
    val touched = mv.filter(col("old_cid") =!= col("cid"))
      .select(explode(array(col("old_cid"), col("cid"))).as("cid"))
      .distinct().collect().map(_.getLong(0)).toSet // bounded by 2·nLists
    if (touched.nonEmpty) {
      val landing = mv.filter(col("cid").isin(touched.toSeq: _*))
        .select(col(idCol), col("cid"))
      val prior = spark.conf.get("spark.sql.sources.partitionOverwriteMode")
      spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
      try landing.write.mode("overwrite").partitionBy("cid").parquet(path)
      finally spark.conf.set("spark.sql.sources.partitionOverwriteMode", prior)
      // a touched cid with NO landing rows (fully drained source) keeps
      // its stale directory under dynamic overwrite — drop it explicitly
      val landed = landing.select(col("cid")).distinct()
        .collect().map(_.getLong(0)).toSet
      val fs = new org.apache.hadoop.fs.Path(path)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      (touched -- landed).foreach { cid =>
        fs.delete(new org.apache.hadoop.fs.Path(path, s"cid=$cid"), true)
      }
    }
    spark.read.parquet(path)
  }

  // ---- versioned rebalance apply (s35, r15) ----------------------------
  //
  // The SERVE-WHILE-APPLYING form of [[applyMovementPartitioned]]: a
  // manifest-resolved, copy-on-write layout in the snapshot style of the
  // open table formats (Iceberg/Delta) reduced to exactly what a
  // cid-partitioned assignment index needs. Layout under `root`:
  //
  //   v<k>/cid=<c>/part-*.parquet   — version k's TOUCHED partitions only
  //   _manifests/v<k>               — "k" + one "cid owner" line per list
  //
  // A version's data dirs are written FIRST, its manifest committed LAST
  // by an atomic rename — a reader resolves the highest committed
  // manifest and reads, for each cid, ONLY the `v<owner>/cid=<c>`
  // directory that manifest names. Readers therefore never see a
  // half-applied movement (a crash or in-flight apply leaves a data dir
  // with no manifest — invisible), applying stays Θ(touched lists) in
  // I/O (untouched cids keep their old owner; their bytes are never
  // rewritten OR copied), and an in-flight reader of version k is
  // undisturbed because version k's files are immutable forever. The
  // stale-dir subtlety applyMovementPartitioned deletes its way out of
  // is handled by OMISSION here: a drained cid simply leaves the
  // manifest, and v<k-1>'s physical dir for a superseded cid is dead
  // weight the manifest never routes to (retention/compaction of dead
  // versions is an offline sweep, out of band by design).

  private def manifestPath(root: String, v: Long) =
    new org.apache.hadoop.fs.Path(root, s"_manifests/v$v")

  private def fsOf(df: DataFrame, root: String) =
    new org.apache.hadoop.fs.Path(root)
      .getFileSystem(df.sparkSession.sparkContext.hadoopConfiguration)

  private def manifestText(v: Long, owners: Map[Long, Long]): String =
    (v.toString +: owners.toSeq.sortBy(_._1)
      .map { case (c, o) => s"$c $o" }).mkString("\n")

  /** Commit manifest v under `root`. The commit primitive is a
    * NO-OVERWRITE rename ([[org.apache.hadoop.fs.FileContext]] with
    * default rename options, which fails on an existing destination —
    * plain `FileSystem.rename` on RawLocalFileSystem/POSIX silently
    * REPLACES the destination and returns true, so "rename fails when
    * the version exists" was never actually enforced there, r15
    * advice). The tmp file is writer-unique (UUID), so two in-flight
    * writers never share a staging path either. If the destination
    * already exists: byte-identical content is the redelivery rewrite
    * (a committed manifest is a pure function of its version's inputs)
    * and commits as a no-op; different content is a second writer that
    * raced this one and fails loud. The exists-then-rename window on
    * stores whose FileContext rename is check-then-act rather than
    * atomic is why [[applyMovementVersioned]]'s contract is
    * SINGLE-WRITER per root (readers are unrestricted).
    */
  private[operators] def writeManifest(fs: org.apache.hadoop.fs.FileSystem,
                            root: String, v: Long,
                            owners: Map[Long, Long]): Unit = {
    val dir = new org.apache.hadoop.fs.Path(root, "_manifests")
    fs.mkdirs(dir)
    val tmp = new org.apache.hadoop.fs.Path(dir,
      s".v$v.${java.util.UUID.randomUUID()}.tmp")
    val bytes = manifestText(v, owners)
      .getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val out = fs.create(tmp, true)
    try out.write(bytes) finally out.close()
    val dest = manifestPath(root, v)
    val fc = org.apache.hadoop.fs.FileContext.getFileContext(
      dest.toUri, fs.getConf)
    try fc.rename(fc.makeQualified(tmp), fc.makeQualified(dest))
    catch {
      // FileAlreadyExists/FileNotFound are IOException subtypes — one
      // alternative, one guard (r16 review). Either way the rename did
      // NOT land.
      case e: java.io.IOException =>
        if (!fs.exists(dest)) throw e
        // the destination exists: distinguish the redelivery rewrite
        // (byte-identical — commits as a no-op) from a racing second
        // writer. A FAILED read-back here is NEITHER: it is a
        // diagnosis failure, and collapsing it into the race message
        // would mis-blame a writer whose content may be identical
        // (r16 advice) — surface the read error with its cause.
        val existing = try readManifest(fs, root, v)
          catch {
            case re: Exception => throw new java.io.IOException(
              s"versioned index $root: manifest v$v already exists but " +
                "could not be read back to verify the redelivery " +
                "rewrite — resolve the read failure and retry " +
                "(NOT necessarily a racing writer)", re)
          }
        require(existing == owners,
          s"versioned index $root: manifest v$v already committed with " +
            "different content — another writer raced this apply; the " +
            "layout is single-writer per root, resolve and retry")
    } finally {
      // the writer-unique tmp must never outlive the call: the
      // successful rename consumed it, and EVERY failure path —
      // IOException or not (r16 advice: a non-IOException rename
      // throw previously leaked it) — would otherwise orphan one
      // UUID-named file per retry, litter nothing ever sweeps.
      if (fs.exists(tmp)) fs.delete(tmp, false)
    }
  }

  private[operators] def readManifest(fs: org.apache.hadoop.fs.FileSystem,
                           root: String, v: Long): Map[Long, Long] = {
    val in = fs.open(manifestPath(root, v))
    val txt = try scala.io.Source.fromInputStream(in, "UTF-8").mkString
      finally in.close()
    val lines = txt.linesIterator.toSeq
    require(lines.headOption.contains(v.toString),
      s"versioned index $root: manifest v$v is corrupt (header " +
        s"'${lines.headOption.getOrElse("")}')")
    lines.tail.map { l =>
      val Array(c, o) = l.split(" ")
      c.toLong -> o.toLong
    }.toMap
  }

  /** The highest COMMITTED version under `root` — data dirs without a
    * manifest (a crash, or an apply still in flight) are invisible.
    */
  def latestIndexVersion(fs: org.apache.hadoop.fs.FileSystem,
                         root: String): Option[Long] = {
    val dir = new org.apache.hadoop.fs.Path(root, "_manifests")
    if (!fs.exists(dir)) None
    else {
      val V = "^v(\\d+)$".r
      fs.listStatus(dir).toSeq
        .collect { case s => s.getPath.getName }
        .collect { case V(n) => n.toLong }
        .maxOption
    }
  }

  /** Lay an assignment state down as version 0 of a manifest-resolved
    * index at `root` (one `cid=` directory per list, manifest committed
    * last). Besides `idCol` and `cid`, the state may carry any payload
    * columns — e.g. the residual `codes` of an IVFADC index
    * ([[rebalanceIvfPqIndex]]) — which land inside the partition files
    * like any other column.
    */
  def initIndexVersioned(state: DataFrame, root: String,
                         idCol: String = "vec_id"): Unit = {
    val fs = fsOf(state, root)
    require(latestIndexVersion(fs, root).isEmpty,
      s"versioned index $root: already initialized")
    val st = state.localCheckpoint() // write + owner census read it twice
    st.write.mode("overwrite").partitionBy("cid").parquet(s"$root/v0")
    val owners = st.select(col("cid").cast("long")).distinct().collect()
      .map(_.getLong(0) -> 0L).toMap
    writeManifest(fs, root, 0L, owners)
  }

  /** Apply a movement to the versioned index as version k+1: write the
    * touched cids' landing rows into a FRESH `v<k+1>/` (never mutating
    * any committed version), then commit a manifest routing touched
    * cids to k+1, drained cids to nowhere, and untouched cids to their
    * existing owners. Movement columns beyond (`idCol`, `old_cid`,
    * `cid`) are PAYLOAD and land in the new version's files — the
    * IVFADC rebalance passes its re-encoded `codes` this way, so the
    * touched-only I/O contract covers the composed index too. An
    * identity movement commits nothing and returns the current
    * version. I/O is Θ(touched lists); a concurrent reader of any
    * committed version is untouched by construction. Returns the
    * committed version id.
    *
    * WRITER CONTRACT — single applier per root: readers are
    * unrestricted (that is the layout's point), but two CONCURRENT
    * appliers would race both the data write (they share the
    * uncommitted `v<k+1>/` directory) and the manifest commit. The
    * commit primitive makes the manifest race LOUD (no-overwrite
    * rename + content comparison, [[writeManifest]]) rather than
    * silent, but loud-and-retried is still a coordination failure the
    * caller owns — serialize appliers (the streaming loops do this by
    * construction: one foreachBatch at a time per lineage).
    */
  def applyMovementVersioned(movement: DataFrame, root: String,
                             idCol: String = "vec_id"): Long =
    applyMovementVersionedHooked(movement, root, idCol)

  /** [[applyMovementVersioned]] with a spec seam: `interleave` runs in
    * the claim→commit window, where a CONCURRENT second applier (a
    * violated single-writer contract) would land. The r17 fencing
    * makes every staged interleave of two live appliers end
    * loud-or-correct, never silently corrupt:
    *
    *  1. the landing is written to a WRITER-UNIQUE staging dir
    *     (`.v<next>.<uuid>.staging` — never the shared `v<next>`), so
    *     no applier can ever scribble into bytes another applier has
    *     claimed or committed;
    *  2. `v<next>` is CLAIMED by a no-overwrite FileContext rename of
    *     the staging dir. An existing COMMITTED v<next> fails the
    *     claim loud (the race message names the single-writer
    *     contract); an existing UNCOMMITTED v<next> is reclaimed once
    *     (delete + re-rename) — that is the redelivery path for a
    *     crashed previous attempt, safe under the documented contract;
    *  3. a claim MARKER (`_claim_<uuid>`, `_`-prefixed so parquet
    *     readers ignore it) rides inside the staged dir, and the
    *     commit re-checks it AFTER the interleave window: an applier
    *     whose claim was reclaimed by a racing writer fails loud HERE,
    *     before it could commit a manifest routing at bytes it did not
    *     write — the corruption mode the pre-r17 shared-overwrite
    *     write allowed;
    *  4. the staging dir is deleted on every exit path, and
    *     [[vacuumIndexVersioned]] reclaims crashed appliers' orphaned
    *     staging dirs once their version is superseded — a loser's
    *     uncommitted dir is never stranded.
    *
    * The check-then-commit window between 3 and the manifest rename is
    * irreducible without an atomic conditional primitive the FS API
    * does not offer — which is WHY the layout's contract stays
    * single-writer; the fencing turns a violated contract from silent
    * corruption into a loud loser.
    */
  private[operators] def applyMovementVersionedHooked(
      movement: DataFrame, root: String,
      idCol: String = "vec_id",
      interleave: () => Unit = () => ()): Long = {
    val fs = fsOf(movement, root)
    val cur = latestIndexVersion(fs, root).getOrElse(
      sys.error(s"versioned index $root: not initialized — call " +
        "initIndexVersioned with the pre-rebalance state first"))
    val owners = readManifest(fs, root, cur)
    val mv = movement.localCheckpoint() // touched + write + landed reads
    val touched = mv.filter(col("old_cid") =!= col("cid"))
      .select(explode(array(col("old_cid"), col("cid"))).as("cid"))
      .distinct().collect().map(_.getLong(0)).toSet // bounded by 2·nLists
    if (touched.isEmpty) return cur
    val next = cur + 1
    val token = java.util.UUID.randomUUID().toString
    val staging = new org.apache.hadoop.fs.Path(root,
      s".v$next.$token.staging")
    try {
      val landing = mv.filter(col("cid").isin(touched.toSeq: _*))
        .drop("old_cid").localCheckpoint() // idCol + cid + any payload
      landing.write.mode("overwrite").partitionBy("cid")
        .parquet(staging.toString)
      fs.create(new org.apache.hadoop.fs.Path(staging,
        s"_claim_$token"), true).close()
      val landed = landing.select(col("cid")).distinct()
        .collect().map(_.getLong(0)).toSet
      claimVersionDir(fs, root, next, staging)
      interleave()
      require(fs.exists(new org.apache.hadoop.fs.Path(
          new org.apache.hadoop.fs.Path(root, s"v$next"),
          s"_claim_$token")),
        s"versioned index $root: v$next was reclaimed by another " +
          "applier while this apply was in flight — the layout is " +
          "single-writer per root; this apply LOST and committed " +
          "nothing")
      writeManifest(fs, root, next,
        (owners -- touched) ++ landed.iterator.map(_ -> next))
      next
    } finally {
      // consumed by the claim rename on the happy path; on any failure
      // the writer-unique staging must not be stranded
      if (fs.exists(staging)) fs.delete(staging, true)
    }
  }

  /** Claim `v<next>` for one applier: no-overwrite rename of its
    * staged dir. A COMMITTED v<next> → loud race failure; an
    * UNCOMMITTED one is reclaimed ONCE (the crashed-attempt redelivery
    * path — safe under the single-writer contract; under a violated
    * one, the reclaimed applier's commit-time claim check goes loud
    * instead of corrupting).
    */
  private def claimVersionDir(fs: org.apache.hadoop.fs.FileSystem,
                              root: String, next: Long,
                              staging: org.apache.hadoop.fs.Path): Unit = {
    val dest = new org.apache.hadoop.fs.Path(root, s"v$next")
    val fc = org.apache.hadoop.fs.FileContext.getFileContext(
      dest.toUri, fs.getConf)
    def rename(): Unit =
      fc.rename(fc.makeQualified(staging), fc.makeQualified(dest))
    try rename()
    catch {
      case e: java.io.IOException =>
        require(!fs.exists(manifestPath(root, next)),
          s"versioned index $root: v$next is already COMMITTED — " +
            "another applier raced this one; the layout is " +
            "single-writer per root, resolve and retry")
        if (!fs.exists(dest)) throw e // not the exists case: surface it
        fs.delete(dest, true)
        rename()
    }
  }

  /** Read the versioned index at `version` (default: latest committed):
    * for each cid, exactly the one `v<owner>/cid=<c>` directory its
    * manifest names — stale dirs a later version superseded are never
    * listed, and the per-owner reads stay partition-pruned. Payload
    * columns (e.g. an IVFADC index's `codes`) come back with the rows;
    * only `cid` is normalized (partition-column type inference reads
    * small values as int — restored to the written BIGINT). Driver-side
    * work is one manifest (nLists-bounded); the scan unions one pruned
    * read per DISTINCT owner version (bounded by the rebalance history
    * depth, typically ≤ a handful before compaction folds it).
    */
  def readIndexVersioned(spark: org.apache.spark.sql.SparkSession,
                         root: String, version: Option[Long] = None,
                         idCol: String = "vec_id"): DataFrame = {
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val v = version.orElse(latestIndexVersion(fs, root)).getOrElse(
      sys.error(s"versioned index $root: no committed version"))
    val owners = readManifest(fs, root, v)
    require(owners.nonEmpty,
      s"versioned index $root: manifest v$v routes no lists")
    owners.toSeq.groupBy(_._2).toSeq.sortBy(_._1).map { case (o, cids) =>
      spark.read.option("basePath", s"$root/v$o")
        .parquet(cids.map { case (c, _) => s"$root/v$o/cid=$c" }: _*)
        .withColumn("cid", col("cid").cast("long"))
    }.reduce(_ unionByName _)
  }

  /** IVFADC list-starvation merge (gate s38, r15) — [[mergeLists]]
    * lifted to the COMPOSED (id, cid, codes) index, [[rebalanceIvfPqIndex]]'s
    * complement: census the PHYSICAL lists (empty lists included — a
    * list with no index rows always retires), retire every starved one
    * ([[MergePolicy]]), renumber survivors densely, and land each
    * orphaned member at its fresh exact-integer argmax among the
    * SURVIVING centroids with its residual codes RE-ENCODED against
    * that centroid ([[encodeAtState]] — the orphan's old codes
    * quantized a residual against its retired centroid and would
    * corrupt its ADC distances in the new list). Survivor members are
    * the cheap half: their centroid is untouched, so their codes carry
    * VERBATIM and only the cid renumbers — at production the survivor
    * movement is the metadata rename [[mergeLists]] documents, zero
    * file rewrites of survivor lists, and the orphan re-encode is
    * Θ(starved-list bytes). Returns (merged index, surviving codebook)
    * ready for [[ivfPqSearchIndexed]].
    *
    * Movement: one census aggregate (nLists-bounded), one codegen'd
    * survivor-argmax + re-encode kernel pass over ORPHANS only, and a
    * map-literal cid renumber on the carried rows. Exact integers end
    * to end — the DuckDB oracle replays decision and effect.
    */
  def mergeIvfPqIndex(index: DataFrame, corpus: DataFrame,
                      coarseCb: Array[Array[Long]],
                      pqCbs: Array[Array[Array[Long]]],
                      policy: MergePolicy, scale: Long = 1000000L,
                      idCol: String = "vec_id",
                      vecCol: String = "embedding")
      : (DataFrame, Array[Array[Long]]) = {
    val k = coarseCb.length
    require(k > 0, "mergeIvfPqIndex: empty codebook — nothing to merge")
    // BOTH silent-drop directions loud (r15 advice — the merge half of
    // the check splitListsEven/rebalanceIvfPqIndex already carry): an
    // index id with no corpus vector would vanish through the orphan
    // re-encode's inner joins, and an index cid outside [0, k) matches
    // neither the survivors filter nor the merged one — either way the
    // caller paired a stale index with a mismatched corpus/codebook.
    // One anti-join count (id columns only, never codes payloads); the
    // strays are the census keys outside [0, k).
    requireNoGhosts("mergeIvfPqIndex", index, corpus.select(col(idCol).as("id")),
      "index", "their members would silently vanish through the orphan re-encode")
    val census = index.groupBy(col("cid").cast("long")).count().collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val strays = census.collect { case (c, n) if c < 0L || c >= k => n }.sum
    require(strays == 0L,
      s"mergeIvfPqIndex: $strays index rows sit in lists outside the " +
        s"$k-list codebook — they would match neither the survivor " +
        "carry nor the retire re-encode; the caller paired a stale " +
        "codebook with a newer index")
    val (merged, survivors, rankOf, survCb) =
      mergeDecision("mergeIvfPqIndex", coarseCb, census, policy)
    if (merged.isEmpty) return (index, coarseCb)
    val kept = index.filter(col("cid").isin(survivors: _*))
      .select(col("id"),
        element_at(typedLit(rankOf), col("cid").cast("long")).as("cid"),
        col("codes"))
    // orphans: fresh survivor argmax (the rank IS the dense new cid,
    // survCb being in survivor order), then re-encode against it
    val orphanIds = index.filter(col("cid").isin(merged: _*)).select(col("id"))
    val orphanAssign = quantized(corpus, scale, idCol, vecCol)
      .join(orphanIds, Seq("id"), "left_semi")
      .select(col("id"),
        nearestOfDots(fixedScores(survCb)).cast("long").as("cid"))
    val reenc = encodeAtState(corpus, orphanAssign, survCb, pqCbs,
      // orphanAssign is this function's own corpus scan (state ⊆
      // corpus by construction) and the ghost count above already
      // proved every index id has a corpus vector
      scale, idCol, vecCol, validate = false)
    (kept.unionByName(reenc), survCb)
  }

  /** Retention sweep for the versioned index (the "dead weight the
    * manifest never routes to" the apply deliberately leaves behind):
    * keep the newest `keepVersions` committed manifests, drop the
    * older manifests, then delete every `v<k>/cid=` data directory no
    * KEPT manifest routes to. Referenced-ness, not directory age,
    * decides deletion — a kept manifest may still route a cid to a
    * directory many versions old (untouched lists never rewrite), and
    * that directory survives any number of sweeps. Deletion order is
    * crash-safe for surviving readers: dropped MANIFESTS go first (a
    * crash mid-sweep leaves unreferenced dirs, never a manifest
    * routing to deleted data) — and the data walk enumerates `v<k>`
    * directories from the ROOT LISTING, not from surviving manifests,
    * so a re-run after that crash reclaims dirs whose manifests are
    * already gone (r15 advice: a manifest-driven walk would leak them
    * permanently). Dirs above the highest committed manifest are an
    * apply in flight and are left alone. `keepVersions` is the
    * reader-pin horizon: a reader pinned at a dropped version fails
    * loudly on its next manifest resolve, which is the retention
    * contract (same trade as any table format's VACUUM). Returns
    * (manifests dropped, data directories deleted).
    */
  def vacuumIndexVersioned(spark: org.apache.spark.sql.SparkSession,
                           root: String, keepVersions: Int = 2)
      : (Long, Long) = {
    require(keepVersions >= 1,
      "vacuumIndexVersioned: must keep at least the latest version")
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val mdir = new org.apache.hadoop.fs.Path(root, "_manifests")
    val V = "^v(\\d+)$".r
    val versions = fs.listStatus(mdir).toSeq
      .map(_.getPath.getName).collect { case V(n) => n.toLong }.sorted
    require(versions.nonEmpty, s"versioned index $root: no manifests")
    val (dropped, kept) =
      versions.splitAt(math.max(0, versions.size - keepVersions))
    val referenced: Set[(Long, Long)] = kept.flatMap { v =>
      // .toSeq BEFORE the key swap: mapping a Map re-keys by OWNER and
      // collapses every manifest entry sharing an owner version to one
      // survivor — e.g. the common "init routed every cid to v0" shape
      // — silently deleting still-referenced sibling dirs (caught by
      // the r16 in-flight vacuum spec)
      readManifest(fs, root, v).toSeq
        .map { case (cid, owner) => (owner, cid) }
    }.toSet
    dropped.foreach(v => fs.delete(manifestPath(root, v), false))
    var deleted = 0L
    val D = "^cid=(-?\\d+)$".r
    // enumerate data dirs from the FILESYSTEM, not from manifest
    // versions (r15 advice): a crash after the dropped manifests were
    // deleted but before their unreferenced dirs were removed leaves
    // dirs whose manifests are gone — a manifest-driven walk could
    // never revisit them, leaking them permanently; the root listing
    // makes a re-run reclaim them. Uncommitted dirs ABOVE the highest
    // manifest are an apply in flight and must survive: the in-flight
    // writer's commit would otherwise route to deleted data.
    val highest = versions.max
    val dataVersions = fs.listStatus(
        new org.apache.hadoop.fs.Path(root)).toSeq
      .filter(_.isDirectory).map(_.getPath.getName)
      .collect { case V(n) => n.toLong }
      .filter(_ <= highest).sorted
    dataVersions.foreach { v =>
      val vdir = new org.apache.hadoop.fs.Path(root, s"v$v")
      if (fs.exists(vdir)) {
        fs.listStatus(vdir).foreach { st =>
          st.getPath.getName match {
            case D(c) if !referenced((v, c.toLong)) =>
              fs.delete(st.getPath, true); deleted += 1
            case _ => () // marker/_SUCCESS files; an empty shell dir
          }            // costs nothing and keeps the sweep idempotent
        }
      }
    }
    // crashed appliers' orphaned STAGING dirs (`.v<k>.<uuid>.staging`,
    // r17 fencing): reclaimable once version k is committed-or-
    // superseded (k ≤ the highest committed manifest). A LIVE in-flight
    // apply stages for highest+1 and survives the sweep; a stale stager
    // at k ≤ highest has already lost by definition — its manifest
    // commit would fail the no-overwrite rename — so the loser's
    // uncommitted dir is never stranded.
    val Stg = "^\\.v(\\d+)\\..*\\.staging$".r
    fs.listStatus(new org.apache.hadoop.fs.Path(root)).toSeq
      .filter(_.isDirectory).foreach { st =>
        st.getPath.getName match {
          case Stg(k) if k.toLong <= highest =>
            fs.delete(st.getPath, true); deleted += 1
          case _ => ()
        }
      }
    (dropped.size.toLong, deleted)
  }

  /** IVF (inverted-file) search against a FIXED float codebook:
    * assignment argmax + nProbe probe lists + exact cosine re-rank —
    * searching ~nProbe/nLists of the corpus instead of all of it. Gate
    * s16 DuckDB-oracles these probe/assign/re-rank semantics against a
    * literal dyadic codebook; trained codebooks come from
    * [[kmeansTrainFixedPoint]] and search through [[ivfSearchFixedPoint]].
    * Centroids enter the plan as literals, so assignment is a codegen'd
    * argmax (no join); the corpus shuffles ONCE by list id and the
    * probes broadcast.
    */
  def ivfSearch(corpus: DataFrame, queries: DataFrame, k: Int,
                centroids: Array[Array[Double]], nProbe: Int,
                idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val vecs = corpus.select(col(idCol).as("id"),
      col(vecCol).cast("array<double>").as("v"))
    val listed = vecs.withColumn("cid", nearestCentroidExpr(centroids, col("v")))
    // each query probes its nProbe nearest centroids
    val probes = broadcast(
      queries.select(col(idCol).as("query_id"), col(vecCol).cast("array<double>").as("qv"))
        .select(col("query_id"), col("qv"),
          posexplode(array(centroids.toIndexedSeq.map(c =>
            dot(col("qv"), typedLit(c.toSeq))): _*)).as(Seq("cid", "cdot")))
        .withColumn("rnk", row_number().over(
          Window.partitionBy(col("query_id")).orderBy(col("cdot").desc, col("cid"))))
        .filter(col("rnk") <= nProbe)
        .select(col("query_id"), col("qv"), col("cid")))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("sim").desc, col("neighbor_id").asc)
    probes.join(listed.withColumnRenamed("id", "neighbor_id"), Seq("cid"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("sim", cosine(col("qv"), col("v")))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(col("query_id"), col("rank"), col("neighbor_id"),
              round(col("sim"), 6).as("sim"))
  }

  /** Embedding-space benchmark decontamination — the semantic sibling of
    * the n-gram decontam (t08): flag corpus vectors whose nearest EVAL
    * vector clears a cosine threshold (paraphrased test-set leakage that
    * shingle overlap can't see). Output per corpus vector: (vec_id,
    * max_sim, closest_eval_id, contaminated), ties on sim broken by
    * lowest eval id. `contaminated` compares the ROUNDED max_sim so an
    * engine ulp can't flip the boundary.
    *
    * Scale contract = t08's/s01's: the eval set (benchmarks are small)
    * BROADCASTS against one corpus scan — the corpus never shuffles; the
    * per-row argmax window groups exactly |eval| rows per vector. An
    * eval set too large to broadcast routes through the ANN candidate
    * paths (s02/s04/s08) first, same as every other big-anchor case.
    */
  def embeddingDecontam(corpus: DataFrame, evalSet: DataFrame,
                        threshold: Double, idCol: String = "vec_id",
                        vecCol: String = "embedding"): DataFrame = {
    val ev = broadcast(evalSet.select(col(idCol).as("eval_id"),
      col(vecCol).cast("array<double>").as("ev")))
    val c = corpus.select(col(idCol).as("vec_id"),
      col(vecCol).cast("array<double>").as("v"))
    val w = Window.partitionBy(col("vec_id"))
      .orderBy(col("sim").desc, col("eval_id").asc)
    c.crossJoin(ev)
      .withColumn("sim", cosine(col("v"), col("ev")))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("vec_id"), round(col("sim"), 6).as("max_sim"),
              col("eval_id").as("closest_eval_id"),
              (round(col("sim"), 6) >= threshold).as("contaminated"))
  }

  /** Per-group element-wise centroids of an embedding column, emitted as
    * (group, pos, centroid) rows — the core of prototype/class-mean
    * computation and IVF coarse-quantizer training. One explode + one
    * hash-aggregate: shuffle carries (group, pos, partial sum/count)
    * after map-side combine — O(groups·dim) rows, never the vectors.
    * Long/flat output keeps the result joinable and avoids array-column
    * reassembly (array outputs also defeat sort-based result compares).
    */
  def centroids(vectors: DataFrame, groupCol: String, vecCol: String): DataFrame =
    vectors.select(col(groupCol).as("grp"), posexplode(col(vecCol)))
      .groupBy(col("grp"), col("pos"))
      .agg(round(avg(col("col").cast("double")), 6).as("centroid"))
      .select(col("grp"), col("pos").cast("long").as("pos"), col("centroid"))

  /** Embedding outlier detection against class prototypes — the
    * CLIP-filter analog for curation: a vector whose L2 distance to its
    * OWN class centroid sits more than `zThreshold` class-internal
    * standard deviations above the class mean is flagged (mislabeled,
    * corrupted, or off-distribution content). Output per vector:
    * (vec_id, grp, dist, z, is_outlier).
    *
    * Scale: the class centroids are [[centroids]]' one tiny aggregate
    * (k·dim rows, rounded to 6 dp so both engines hash identically);
    * per-class mean/std of distance is a second k-row aggregate; both
    * BROADCAST back, so the corpus is scanned (twice) but never
    * shuffled, and per-row work is one dim-length fold. Distances are
    * per-row sequential folds — bit-deterministic in any engine — and
    * cross-row aggregates are computed over the ROUNDED distances, so
    * float summation order cannot leak into the hash.
    */
  def embeddingOutliers(vectors: DataFrame, groupCol: String, idCol: String,
                        vecCol: String, zThreshold: Double = 2.0): DataFrame = {
    val cvec = centroids(vectors, groupCol, vecCol)
      .groupBy(col("grp"))
      .agg(transform(array_sort(collect_list(struct(col("pos"), col("centroid")))),
        s => s.getField("centroid")).as("cvec"))
    val withDist = vectors
      .select(col(idCol).as("vec_id"), col(groupCol).as("grp"),
              col(vecCol).cast("array<double>").as("v"))
      .join(broadcast(cvec), Seq("grp"))
      .withColumn("dist", round(sqrt(aggregate(
        zip_with(col("v"), col("cvec"), (a, b) => (a - b) * (a - b)),
        lit(0.0), (acc, x) => acc + x)), 6))
    val stats = withDist.groupBy(col("grp"))
      .agg(round(avg(col("dist")), 6).as("mu"),
           round(stddev_pop(col("dist")), 6).as("sigma"))
    withDist.join(broadcast(stats), Seq("grp"))
      .withColumn("z", round((col("dist") - col("mu")) / col("sigma"), 4))
      .select(col("vec_id"), col("grp"), col("dist"), col("z"),
              (col("z") > zThreshold).as("is_outlier"))
  }

  /** Nearest-centroid assignment (the k-means E-step / vector-quantizer
    * encode): every vector is scored against every centroid via the
    * codegen'd dot kernel and assigned by squared L2 distance
    * (‖x‖² − 2·x·c + ‖c‖², same algebraic form the oracle replays).
    * Centroids are a flat (grp, pos, centroid) frame as produced by
    * [[centroids]]; they reassemble to k small vectors and BROADCAST —
    * the corpus is scanned once and never shuffled; the k-way scoring is
    * per-row compute. Ties break toward the lexically-smallest centroid
    * id. Returns a (true-group → assigned-centroid) confusion summary
    * with mean distance — flat output, bounded by k².
    */
  /** Per-vector assignment rows (id, grp_true, assigned, dist2 6dp) —
    * the persistable ASSIGNMENT STATE that [[maintainAssignments]]
    * keeps current across corpus versions. Same broadcast-codebook
    * argmin as [[assignToCentroids]] (that function is this one's
    * per-(group, centroid) rollup in shape), but emitting the state
    * row per vector; dist2 rounds to 6 dp AFTER the argmin so the
    * state hash-oracles (s11's rounded-per-row-distance argument)
    * while ties still break on the unrounded value then the label.
    */
  def assignVectors(vectors: DataFrame, cents: DataFrame,
                    idCol: String, groupCol: String, vecCol: String): DataFrame = {
    val cvec = cents.groupBy(col("grp"))
      .agg(transform(array_sort(collect_list(struct(col("pos"), col("centroid")))),
        s => s.getField("centroid")).as("cv"))
      .select(col("grp").as("assigned"), col("cv"),
              dot(col("cv"), col("cv")).as("cc"))
    val v = vectors.select(col(idCol).as("id"), col(groupCol).as("grp_true"),
        col(vecCol).cast("array<double>").as("v"))
      .withColumn("vv", dot(col("v"), col("v")))
    v.crossJoin(broadcast(cvec))
      .select(col("id"), col("grp_true"), col("assigned"),
        (col("vv") - lit(2.0) * dot(col("v"), col("cv")) + col("cc")).as("dist2"))
      .groupBy(col("id"), col("grp_true"))
      .agg(min(struct(col("dist2"), col("assigned"))).as("best"))
      .select(col("id"), col("grp_true"),
              col("best.assigned").as("assigned"),
              round(col("best.dist2"), 6).as("dist2"))
  }

  /** Corpus snapshot diff for VECTOR tables — d14's question where the
    * payload is an embedding: one row per id in either snapshot with
    * status added / removed / changed / unchanged, compared EXACTLY on
    * the stored array (no hash, no collision risk — an embedding row is
    * ~256 B, so moving it once through the full-outer join is cheap;
    * with both snapshots bucketed by id the join needs no shuffle at
    * all, d14's bucketing twin).
    */
  def vectorSnapshotDiff(oldDf: DataFrame, newDf: DataFrame,
                         vecCol: String, idCol: String): DataFrame =
    oldDf.select(col(idCol).as("id"), col(vecCol).as("__old_v"))
      .join(newDf.select(col(idCol).as("id"), col(vecCol).as("__new_v")),
        Seq("id"), "full_outer")
      .withColumn("status",
        when(col("__old_v").isNull, lit("added"))
          .when(col("__new_v").isNull, lit("removed"))
          .when(col("__old_v") === col("__new_v"), lit("unchanged"))
          .otherwise(lit("changed")))
      .select(col("id"), col("status"))

  /** s18: ANN assignment-index maintenance — the d19/m09 seam for the
    * similarity family. The codebook is FIXED (trained on the old
    * corpus, the production cadence: centroids retrain rarely,
    * assignments maintain continuously), so an unchanged vector's
    * assignment can never move and maintenance touches DELTA vectors
    * only: one broadcastable anti-join on the touched ids (UPSERT —
    * "added" drops first too, the at-least-once safety) + the
    * k-distance argmin over added ∪ changed vectors. Contract
    * (spec-asserted AND hash-oracled via the s18 gate's V2-rebuild
    * oracle): maintained ≡ `assignVectors(V2, sameCents)` row-for-row.
    */
  def maintainAssignments(state: DataFrame, diff: DataFrame,
                          newVectors: DataFrame, cents: DataFrame,
                          idCol: String, groupCol: String,
                          vecCol: String): DataFrame =
    IndexMaintenance.upsert(state, diff, newVectors, idCol)(
      assignVectors(_, cents, idCol, groupCol, vecCol))

  def assignToCentroids(vectors: DataFrame, cents: DataFrame,
                        idCol: String, groupCol: String, vecCol: String): DataFrame = {
    val cvec = cents.groupBy(col("grp"))
      .agg(transform(array_sort(collect_list(struct(col("pos"), col("centroid")))),
        s => s.getField("centroid")).as("cv"))
      .select(col("grp").as("assigned"), col("cv"),
              dot(col("cv"), col("cv")).as("cc"))
    val v = vectors.select(col(idCol).as("id"), col(groupCol).as("grp_true"),
        col(vecCol).cast("array<double>").as("v"))
      .withColumn("vv", dot(col("v"), col("v")))
    v.crossJoin(broadcast(cvec))
      .select(col("id"), col("grp_true"), col("assigned"),
        (col("vv") - lit(2.0) * dot(col("v"), col("cv")) + col("cc")).as("dist2"))
      // map-side-combined argmin: the shuffle carries one (dist2, assigned)
      // struct per vector, never the vectors themselves
      .groupBy(col("id"), col("grp_true"))
      .agg(min(struct(col("dist2"), col("assigned"))).as("best"))
      .groupBy(col("grp_true"), col("best.assigned").as("assigned"))
      .agg(count(lit(1)).as("n"),
           round(avg(col("best.dist2")), 4).as("avg_dist2"))
  }

  /** SemDeDup-style semantic dedup: exact cosine comparison restricted
    * to WITHIN coarse clusters (`clusterCol` — a label here; in
    * production the k-means assignment from [[assignToCentroids]]), any
    * vector ≥ threshold-similar to a lower-id cluster-mate is dropped.
    * Pairwise work is Σ_c n_c² instead of corpus², each cluster's pairs
    * co-locate under ONE shuffle key, and the output is per-cluster
    * keep/drop counts — the coarse-quantize-then-prune shape that makes
    * embedding dedup feasible at 100 TB.
    */
  def semanticDedup(corpus: DataFrame, clusterCol: String, threshold: Double,
                    idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val prepped = corpus.select(col(clusterCol).as("c"), col(idCol).as("id"),
        col(vecCol).cast("array<double>").as("v"))
      .withColumn("nrm", sqrt(dot(col("v"), col("v"))))
    val a = prepped.select(col("c"), col("id").as("id1"),
      col("v").as("v1"), col("nrm").as("n1"))
    val b = prepped.select(col("c").as("c2"), col("id").as("id2"),
      col("v").as("v2"), col("nrm").as("n2"))
    // when() guards the zero-norm corner: ANSI mode turns 0/0 into a
    // job-killing error, and a padded/failed zero embedding must not
    // take down the corpus-wide dedup — it scores 0 and is kept
    val dropped = a.join(b, col("c") === col("c2") && col("id1") < col("id2"))
      .filter(when(col("n1") * col("n2") > 0,
        dot(col("v1"), col("v2")) / (col("n1") * col("n2")))
        .otherwise(lit(0.0)) >= threshold)
      .select(col("c"), col("id2").as("did"))
    prepped.groupBy(col("c")).agg(count(lit(1)).as("n_vecs"))
      .join(dropped.groupBy(col("c")).agg(countDistinct(col("did")).as("nd")),
        Seq("c"), "left")
      .select(col("c").as("cluster"), col("n_vecs"),
        coalesce(col("nd"), lit(0L)).as("n_dropped"),
        (col("n_vecs") - coalesce(col("nd"), lit(0L))).as("n_kept"))
  }

  /** Sub-quadratic embedding near-dup for HIGH thresholds: candidates from
    * multi-table random-hyperplane buckets (only same-bucket pairs meet),
    * then exact cosine verification. Misses are bounded by the LSH S-curve
    * (1-(1-p^nBits)^tables, p = 1 - θ/π); false positives: none (verified).
    * At sim ≥ 0.9 and nBits = 12, a random pair collides with prob 2^-12
    * per table while a near-dup pair survives with p^12 ≈ 0.3 per table —
    * that asymmetry is what makes this o(n²); it vanishes at low
    * thresholds, where [[cosinePairs]]' exact grid is the right tool.
    */
  def cosinePairsLsh(corpus: DataFrame, threshold: Double, dim: Int,
                     nBits: Int = 12, tables: Int = 8,
                     idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val vecs = corpus.select(
        col(idCol).as("id"), col(vecCol).cast("array<double>").as("v"))
      .withColumn("nrm", sqrt(dot(col("v"), col("v"))))
    val buckets = vecs.select(col("id"),
        posexplode(array((0 until tables).map(t =>
          lshSignature(col("v"), dim, nBits, t)): _*)))
      .toDF("id", "table", "bucket")
    val cands = buckets.as("a").join(buckets.as("b"),
        col("a.table") === col("b.table") &&
        col("a.bucket") === col("b.bucket") &&
        col("a.id") < col("b.id"))
      .select(col("a.id").as("id1"), col("b.id").as("id2"))
      .distinct()
    cands
      .join(vecs.select(col("id"), col("v").as("v1"), col("nrm").as("n1")),
            col("id1") === col("id"))
      .drop("id")
      .join(vecs.select(col("id"), col("v").as("v2"), col("nrm").as("n2")),
            col("id2") === col("id"))
      .withColumn("sim", dot(col("v1"), col("v2")) / (col("n1") * col("n2")))
      .filter(col("sim") >= threshold)
      .select(col("id1"), col("id2"), round(col("sim"), 6).as("sim"))
  }

  /** Above this threshold LSH bucket collisions are selective enough that
    * the sub-quadratic path wins; below it they aren't, and exact is both
    * faster and complete.
    */
  val LshRoutingThreshold = 0.8

  /** Threshold-routed embedding near-dup — the DEFAULT entry point, so no
    * caller accidentally carries the Θ(n²) exact grid into a 100× corpus
    * at high threshold. At `threshold ≥` [[LshRoutingThreshold]] (real
    * near-dup territory) this is [[cosinePairsLsh]], whose candidate set
    * is o(n²) by the LSH S-curve asymmetry; below it (where LSH buckets
    * stop being selective and would degenerate toward all-pairs ANYWAY,
    * plus misses) it is the exact block grid [[cosinePairs]], whose n²
    * compute is evenly spread with O(n·B) shuffle. Same output contract
    * either way: (id1 < id2, sim) pairs with sim ≥ threshold, verified
    * exact cosine — the LSH path can only miss pairs, never invent them.
    */
  def cosinePairsAuto(corpus: DataFrame, threshold: Double, dim: Int,
                      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame =
    if (threshold >= LshRoutingThreshold)
      cosinePairsLsh(corpus, threshold, dim, idCol = idCol, vecCol = vecCol)
    else
      cosinePairs(corpus, threshold, idCol = idCol, vecCol = vecCol)

  /** Hybrid retrieval: a BM25 keyword ranking and an exact-cosine vector
    * ranking for the SAME query, fused by reciprocal-rank fusion
    * (Cormack et al. 2009): rrf(d) = Σ_lists 1/(rrfK + rank_list(d)),
    * absent-from-list contributing 0. The standard keyword+vector hybrid
    * search shape; rank-based fusion needs no score calibration between
    * the two retrievers.
    *
    * Scale: each retriever already bounds its own work (BM25's bounded-
    * heap top-k; KNN's broadcast query row); fusion then touches only
    * ≤ 2·poolK candidate rows, so the final window sorts a constant-size
    * set — the corpus is never re-scanned. Both inputs are hash-oracled
    * operators and ranks are integers, so the fused output is exactly
    * replayable in SQL.
    */
  def hybridRrfTopK(docs: DataFrame, emb: DataFrame, queryTerms: Seq[String],
                    queryVecId: Long, k: Int, poolK: Int = 50,
                    rrfK: Int = 60): DataFrame = {
    val textRank = TextAnalysis.bm25TopK(docs, "text", "doc_id", queryTerms, poolK)
      .select(col("doc_id"), col("rank").as("text_rank"))
    val vecRank = bruteForceKnn(emb, emb.filter(col("vec_id") === queryVecId), poolK)
      .select(col("neighbor_id").as("doc_id"), col("rank").as("vec_rank"))
    val w = Window.orderBy(col("rrf").desc, col("doc_id").asc)
    textRank.join(vecRank, Seq("doc_id"), "full_outer")
      .withColumn("rrf", round(
        coalesce(lit(1.0) / (lit(rrfK) + col("text_rank")), lit(0.0)) +
        coalesce(lit(1.0) / (lit(rrfK) + col("vec_rank")), lit(0.0)), 6))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(col("rank"), col("doc_id"), col("rrf"),
              col("text_rank"), col("vec_rank"))
  }
}
