package graft.queries

import graft.{QueryDef, Tables}
import graft.operators.Dedup
import org.apache.spark.sql.functions._

/** Deduplication operator suite over `documents` (SURVEY §2c). Every
  * variant is oracle-checked: the MinHash-LSH and SimHash hash families
  * derive from [[graft.functions.PortableHash]] (MD5-based), so the
  * DuckDB oracle replicates signatures, banding, candidate generation,
  * and verification bit-for-bit — including which pairs LSH finds.
  */
object DedupQueries {

  private val PH = graft.functions.PortableHash

  // mirrors Dedup.shingleIndex's document-frequency cap (Jaccard over the
  // non-ubiquitous shingle universe)
  private val jaccardOracle = s"""
    WITH d AS (SELECT doc_id, string_split(text, ' ') ws FROM documents),
    sh AS (SELECT DISTINCT doc_id, array_to_string(ws[i:i+2], ' ') AS s
           FROM d, LATERAL (SELECT unnest(range(1, len(ws) - 1)) AS i) t),
    shc AS (SELECT doc_id, s FROM (
              SELECT doc_id, s, count(*) OVER (PARTITION BY s) AS df FROM sh)
            WHERE df <= ${graft.operators.Dedup.DefaultDfCap}),
    sz AS (SELECT doc_id, count(*) AS n FROM shc GROUP BY 1),
    com AS (SELECT a.doc_id id1, b.doc_id id2, count(*) c
            FROM shc a JOIN shc b ON a.s = b.s AND a.doc_id < b.doc_id
            GROUP BY 1, 2)
    SELECT id1, id2, round(c * 1.0 / (s1.n + s2.n - c), 6) AS jaccard
    FROM com JOIN sz s1 ON id1 = s1.doc_id JOIN sz s2 ON id2 = s2.doc_id
    WHERE c * 1.0 / (s1.n + s2.n - c) >= 0.8"""

  /** DuckDB replay of the full MinHash-LSH pipeline: capped shingle
    * index → 31-bit base hash → k derived min-hashes → band hashes →
    * bucket-capped candidate pairs → exact-Jaccard verification. The
    * constants are interpolated from [[graft.functions.PortableHash]], so
    * both engines compute the identical signatures.
    */
  private def minhashLshOracle(k: Int, bands: Int,
                               dfCap: Int = graft.operators.Dedup.DefaultDfCap): String =
    s"""
    ${minhashCandCtes(k, bands, dfCap)},
    sz AS (SELECT doc_id, count(*) AS n FROM shc GROUP BY 1),
    com AS (SELECT id1, id2, count(*) AS c
            FROM cand JOIN shc sa ON sa.doc_id = id1
                      JOIN shc sb ON sb.doc_id = id2 AND sa.s = sb.s
            GROUP BY 1, 2)
    SELECT id1, id2, round(c * 1.0 / (s1.n + s2.n - c), 6) AS jaccard
    FROM com JOIN sz s1 ON id1 = s1.doc_id JOIN sz s2 ON id2 = s2.doc_id
    WHERE c * 1.0 / (s1.n + s2.n - c) >= 0.8"""

  /** Signature-AGREEMENT verification tail over the same candidate CTEs —
    * the oracle for the streaming near-dup gate (q104), whose verify is
    * the fraction of equal signature positions (a stream cannot replay
    * exact Jaccard without holding every shingle set in state).
    */
  private[queries] def minhashSigAgreementOracle(k: Int, bands: Int,
                                                 threshold: Double): String = {
    val agree = (0 until k)
      .map(i => s"CASE WHEN a.s$i = b.s$i THEN 1 ELSE 0 END")
      .mkString("\n                 + ")
    s"""
    ${minhashCandCtes(k, bands, dfCap = 0)},
    agree AS (SELECT id1, id2,
                (${agree}) AS na
              FROM cand JOIN sigs a ON a.doc_id = id1
                        JOIN sigs b ON b.doc_id = id2)
    SELECT id1, id2, round(na * 1.0 / $k, 6) AS sig_sim
    FROM agree WHERE na * 1.0 / $k >= $threshold"""
  }

  /** Shared CTE chain through banded, bucket-capped candidate pairs
    * (`cand(id1, id2)`, with `sigs` and `shc` still in scope for the
    * verification tails). Constants interpolated from
    * [[graft.functions.PortableHash]], so both engines compute identical
    * signatures.
    */
  private def minhashCandCtes(k: Int, bands: Int, dfCap: Int): String = {
    val rows = k / bands
    val sigCols = (0 until k)
      .map(i => s"min(${PH.sqlDerived("h", i)}) AS s$i").mkString(",\n               ")
    val bandRows = (0 until bands).map { b =>
      val slice = (b * rows until (b + 1) * rows).map(i => s"s$i").mkString(", ")
      s"SELECT doc_id, $b AS band, ${PH.sqlMd5_64(s"array_to_string([$slice], ',')")} AS bh FROM sigs"
    }.mkString("\n          UNION ALL ")
    // dfCap <= 0 disables the document-frequency cap (the per-row kernel
    // path, d13/q104 — a scalar signature can't see corpus-level DF)
    val shcStage =
      if (dfCap <= 0) "shc AS (SELECT doc_id, s FROM sh),"
      else s"""shc AS (SELECT doc_id, s FROM (
              SELECT doc_id, s, count(*) OVER (PARTITION BY s) AS df FROM sh)
            WHERE df <= $dfCap),"""
    s"""
    WITH d AS (SELECT doc_id, string_split(text, ' ') ws FROM documents),
    sh AS (SELECT DISTINCT doc_id, array_to_string(ws[i:i+2], ' ') AS s
           FROM d, LATERAL (SELECT unnest(range(1, len(ws) - 1)) AS i) t),
    $shcStage
    hb AS (SELECT doc_id, s, ${PH.sqlMd5_64("s")} % ${PH.Mod31} AS h FROM shc),
    sigs AS (SELECT doc_id,
               $sigCols
             FROM hb GROUP BY doc_id),
    bandv AS ($bandRows),
    capped AS (SELECT doc_id, band, bh FROM (
                 SELECT *, count(*) OVER (PARTITION BY band, bh) AS sz FROM bandv)
               WHERE sz <= ${graft.operators.Dedup.DefaultBucketCap}),
    cand AS (SELECT DISTINCT a.doc_id AS id1, b.doc_id AS id2
             FROM capped a JOIN capped b
               ON a.band = b.band AND a.bh = b.bh AND a.doc_id < b.doc_id)"""
  }

  /** q106 (streaming admission) shares d16's oracle verbatim: admission
    * is per-doc against the static index, so the drained union over
    * micro-batches equals the batch answer at any batch boundary.
    */
  private[queries] lazy val streamingAdmissionOracle: String =
    incrementalMinhashOracle(k = 32, bands = 8, threshold = 0.5)

  /** DuckDB replay of d16: kernel (uncapped) signatures for every doc,
    * band table split by the d07 side convention (doc_id % 10), bucket
    * cap on the EXISTING side only, batch×existing candidates, exact
    * Jaccard over the uncapped distinct shingle sets.
    */
  private def incrementalMinhashOracle(k: Int, bands: Int,
                                       threshold: Double): String = {
    val rows = k / bands
    val sigCols = (0 until k)
      .map(i => s"min(${PH.sqlDerived("h", i)}) AS s$i").mkString(",\n               ")
    val bandRows = (0 until bands).map { b =>
      val slice = (b * rows until (b + 1) * rows).map(i => s"s$i").mkString(", ")
      s"SELECT doc_id, $b AS band, ${PH.sqlMd5_64(s"array_to_string([$slice], ',')")} AS bh FROM sigs"
    }.mkString("\n          UNION ALL ")
    s"""
    WITH d AS (SELECT doc_id, string_split(text, ' ') ws FROM documents),
    sh AS (SELECT DISTINCT doc_id, array_to_string(ws[i:i+2], ' ') AS s
           FROM d, LATERAL (SELECT unnest(range(1, len(ws) - 1)) AS i) t),
    hb AS (SELECT doc_id, s, ${PH.sqlMd5_64("s")} % ${PH.Mod31} AS h FROM sh),
    sigs AS (SELECT doc_id,
               $sigCols
             FROM hb GROUP BY doc_id),
    bandv AS ($bandRows),
    exb AS (SELECT doc_id, band, bh FROM (
              SELECT *, count(*) OVER (PARTITION BY band, bh) AS sz
              FROM bandv WHERE doc_id % 10 = 0)
            WHERE sz <= ${graft.operators.Dedup.DefaultBucketCap}),
    newb AS (SELECT doc_id, band, bh FROM bandv WHERE doc_id % 10 <> 0),
    cand AS (SELECT DISTINCT n.doc_id AS id_new, e.doc_id AS id_existing
             FROM newb n JOIN exb e ON n.band = e.band AND n.bh = e.bh),
    sz AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
    com AS (SELECT id_new, id_existing, count(*) AS c
            FROM cand JOIN sh sa ON sa.doc_id = id_new
                      JOIN sh sb ON sb.doc_id = id_existing AND sa.s = sb.s
            GROUP BY 1, 2)
    SELECT id_new, id_existing, round(c * 1.0 / (s1.n + s2.n - c), 6) AS jaccard
    FROM com JOIN sz s1 ON id_new = s1.doc_id JOIN sz s2 ON id_existing = s2.doc_id
    WHERE c * 1.0 / (s1.n + s2.n - c) >= $threshold"""
  }

  /** d19's oracle: the d03/d16 signature/banding replay machinery, run
    * as a REBUILD of the banded index from the V2 corpus (the gate's
    * exact V1→V2 construction) with the bucket cap applied — no
    * maintenance logic at all. The Spark side computes the same rows by
    * MAINTAINING V1's persisted state through the snapshot diff, so the
    * hash match proves maintained ≡ rebuilt row-for-row.
    */
  private[queries] def indexMaintenanceOracle(k: Int, bands: Int): String = {
    val rows = k / bands
    val sigCols = (0 until k)
      .map(i => s"min(${PH.sqlDerived("h", i)}) AS s$i").mkString(",\n               ")
    val bandRows = (0 until bands).map { b =>
      val slice = (b * rows until (b + 1) * rows).map(i => s"s$i").mkString(", ")
      s"SELECT doc_id, CAST($b AS BIGINT) AS band, ${PH.sqlMd5_64(s"array_to_string([$slice], ',')")} AS bh FROM sigs"
    }.mkString("\n          UNION ALL ")
    s"""
    WITH v2 AS (SELECT doc_id,
                  CASE WHEN doc_id % 13 = 0 THEN text || ' rev2qq'
                       ELSE text END AS text
                FROM documents WHERE doc_id % 19 <> 5),
    d AS (SELECT doc_id, string_split(text, ' ') ws FROM v2),
    sh AS (SELECT DISTINCT doc_id, array_to_string(ws[i:i+2], ' ') AS s
           FROM d, LATERAL (SELECT unnest(range(1, len(ws) - 1)) AS i) t),
    hb AS (SELECT doc_id, s, ${PH.sqlMd5_64("s")} % ${PH.Mod31} AS h FROM sh),
    sigs AS (SELECT doc_id,
               $sigCols
             FROM hb GROUP BY doc_id),
    bandv AS ($bandRows)
    SELECT doc_id AS id, band, bh AS band_hash FROM (
      SELECT *, count(*) OVER (PARTITION BY band, bh) AS sz FROM bandv)
    WHERE sz <= ${graft.operators.Dedup.DefaultBucketCap}"""
  }

  /** Shared DuckDB CTE chain for the d06 near-dup clustering pipeline:
    * 3-gram shingles (DF-capped) → Jaccard ≥ 0.8 pairs → undirected
    * edges → recursive transitive closure → per-node component = min
    * reachable id. Ends with `comp(doc_id, component)` — docs with no
    * near-dup edge are absent (callers coalesce to the doc's own id).
    * Single source of truth for the d06 / d10 / d15 oracles.
    */
  private val closureCtes = s"""
        WITH RECURSIVE
        d AS (SELECT doc_id, string_split(text, ' ') ws FROM documents),
        sh AS (SELECT DISTINCT doc_id, array_to_string(ws[i:i+2], ' ') AS s
               FROM d, LATERAL (SELECT unnest(range(1, len(ws) - 1)) AS i) t),
        shc AS (SELECT doc_id, s FROM (
                  SELECT doc_id, s, count(*) OVER (PARTITION BY s) AS df FROM sh)
                WHERE df <= ${graft.operators.Dedup.DefaultDfCap}),
        sz AS (SELECT doc_id, count(*) AS n FROM shc GROUP BY 1),
        com AS (SELECT a.doc_id id1, b.doc_id id2, count(*) c
                FROM shc a JOIN shc b ON a.s = b.s AND a.doc_id < b.doc_id
                GROUP BY 1, 2),
        pairs AS (SELECT id1, id2
                  FROM com JOIN sz s1 ON id1 = s1.doc_id JOIN sz s2 ON id2 = s2.doc_id
                  WHERE c * 1.0 / (s1.n + s2.n - c) >= 0.8),
        edges AS (SELECT id1 AS a, id2 AS b FROM pairs
                  UNION SELECT id2, id1 FROM pairs),
        reach(a, b) AS (
          SELECT a, b FROM edges
          UNION SELECT a, a FROM edges
          UNION SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a),
        comp AS (SELECT a AS doc_id, min(b) AS component FROM reach GROUP BY a)"""

  def defs: Map[String, QueryDef] = Map(

    "d01_dedup_exact" -> QueryDef(
      (s, d) => Dedup.exact(Tables.documents(s, d), "text", "doc_id"),
      Some("""
        SELECT md5(text) AS content_md5, min(doc_id) AS keeper_id,
               count(*) AS dup_count
        FROM documents GROUP BY 1""")),

    "d02_dedup_ngram_jaccard" -> QueryDef(
      (s, d) => Dedup.jaccardPairs(Tables.documents(s, d), "text", "doc_id",
        shingleN = 3, threshold = 0.8),
      Some(jaccardOracle)),

    // MinHash-LSH: candidates from 32-hash/8-band signatures, then exact
    // Jaccard verification — same output contract as d02 minus LSH misses.
    // The oracle replays the exact signature/banding pipeline (portable
    // hash family), so even the LSH *candidate set* is oracle-checked.
    "d03_dedup_minhash_lsh" -> QueryDef(
      (s, d) => Dedup.minhashLsh(Tables.documents(s, d), "text", "doc_id",
        k = 32, bands = 8, shingleN = 3, threshold = 0.8),
      Some(minhashLshOracle(k = 32, bands = 8))),

    // SimHash with Hamming ≤ 3: 16-bit-chunk banding is LOSSLESS at this
    // distance (pigeonhole: ≤3 differing bits across 4 chunks ⇒ one chunk
    // equal). The oracle replays the engine's DISTINCT-hash-first banding
    // exactly: buckets cap on distinct simhash VALUES per (chunk,
    // chunk_val) — not per-doc rows — and equal-hash (distance-0) pairs
    // are emitted unconditionally, outside any cap, exactly as
    // Dedup.expandHashPairs does.
    "d04_dedup_simhash" -> QueryDef(
      (s, d) => Dedup.simhashPairs(Tables.documents(s, d), "text", "doc_id",
        maxDist = 3),
      Some(s"""
        WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w
                     FROM documents),
        hs AS (SELECT doc_id, list(${PH.sqlMd5_64("w")}) AS hl
               FROM tok GROUP BY doc_id),
        sh AS (SELECT doc_id,
                 CAST(list_sum([CASE WHEN list_sum([CASE WHEN (h >> b) & 1 = 1
                                                        THEN 1 ELSE -1 END
                                                   for h in hl]) > 0
                                     THEN (1::BIGINT << b) ELSE 0 END
                                for b in range(64)]) AS BIGINT) AS simhash
               FROM hs),
        dh AS (SELECT DISTINCT simhash FROM sh),
        ch AS (SELECT simhash, c AS chunk,
                      (simhash >> (c * 16)) & 65535 AS chunk_val
               FROM dh, LATERAL (SELECT unnest(range(0, 4)) AS c) t),
        capped AS (SELECT simhash, chunk, chunk_val FROM (
                     SELECT *, count(*) OVER (PARTITION BY chunk, chunk_val) AS sz
                     FROM ch)
                   WHERE sz <= ${graft.operators.Dedup.DefaultBucketCap}),
        hv AS (SELECT h1, h2, CAST(bit_count(xor(h1, h2)) AS BIGINT) AS hamming
               FROM (SELECT DISTINCT a.simhash AS h1, b.simhash AS h2
                     FROM capped a JOIN capped b
                       ON a.chunk = b.chunk AND a.chunk_val = b.chunk_val
                      AND a.simhash < b.simhash)
               WHERE bit_count(xor(h1, h2)) <= 3)
        SELECT least(x.doc_id, y.doc_id) AS id1,
               greatest(x.doc_id, y.doc_id) AS id2, hv.hamming
        FROM hv JOIN sh x ON x.simhash = hv.h1
                JOIN sh y ON y.simhash = hv.h2
        UNION ALL
        SELECT x.doc_id AS id1, y.doc_id AS id2, CAST(0 AS BIGINT) AS hamming
        FROM sh x JOIN sh y
          ON x.simhash = y.simhash AND x.doc_id < y.doc_id""")),

    // Pairs → connected components → keeper: the per-document cluster
    // assignment a dedup pipeline actually emits. Oracle = recursive
    // transitive closure over the same (DF-capped) pair graph.
    "d06_dedup_clusters" -> QueryDef(
      (s, d) => Dedup.connectedComponents(
          Dedup.jaccardPairs(Tables.documents(s, d), "text", "doc_id",
            shingleN = 3, threshold = 0.8))
        .select(col("id").as("doc_id"), col("component").as("cluster_keeper")),
      Some(closureCtes + """
        SELECT doc_id, component AS cluster_keeper FROM comp""")),

    // Incremental NEAR-dup admission (d16): the incoming batch
    // (doc_id % 10 <> 0) banded against the EXISTING corpus's
    // (doc_id % 10 = 0) band-bucket index only — never batch×batch or
    // existing×existing — then exact-Jaccard verified on the uncapped
    // shingle sets (kernel contract, d13). The oracle replays kernel
    // signatures, the one-sided banding, the existing-side bucket cap,
    // and the verification bit-for-bit.
    "d16_incremental_minhash" -> QueryDef(
      (s, d) => {
        val docs = Tables.documents(s, d)
        Dedup.incrementalMinhash(
          docs.filter(col("doc_id") % 10 =!= 0),
          docs.filter(col("doc_id") % 10 === 0),
          "text", "doc_id", k = 32, bands = 8, shingleN = 3,
          threshold = 0.5)
      },
      Some(incrementalMinhashOracle(k = 32, bands = 8, threshold = 0.5))),

    // d19: near-dup index MAINTENANCE across corpus versions (r10) —
    // d16's admission index kept current under adds/CHANGES/REMOVES
    // without a rebuild. V1 = docs minus the %17=3 slice (those are
    // "added" in V2); V2 = docs minus the %19=5 slice ("removed"), with
    // the %13=0 slice's text revised ("changed"). The gate maintains
    // V1's persisted UNCAPPED state through the d14 snapshot diff and
    // serves the capped view; the ORACLE REBUILDS the index from V2
    // from scratch — so the hash match IS the maintenance ≡ rebuild
    // theorem, verified end-to-end (the q125/q128 oracle pattern).
    "d19_index_maintenance" -> QueryDef(
      (s, d) => {
        val docs = Tables.documents(s, d)
        val v1 = docs.filter(col("doc_id") % 17 =!= 3)
        val v2 = docs.filter(col("doc_id") % 19 =!= 5)
          .withColumn("text", when(col("doc_id") % 13 === 0,
            concat(col("text"), lit(" rev2qq"))).otherwise(col("text")))
        val state1 = Dedup.minhashIndexState(v1, "text", "doc_id")
        val diff = Dedup.snapshotDiff(v1, v2, "text", "doc_id")
        val maintained = Dedup.maintainMinhashIndex(state1, diff, v2,
          "text", "doc_id")
        Dedup.cappedIndexView(maintained)
          .select(col("id").cast("long").as("id"),
                  col("band").cast("long").as("band"),
                  col("band_hash"))
      },
      Some(indexMaintenanceOracle(k = 32, bands = 8))),

    // Incremental dedup: the incoming batch (doc_id % 10 != 0) against
    // the existing corpus (doc_id % 10 == 0) — hash-only anti-join.
    "d07_dedup_incremental" -> QueryDef(
      (s, d) => {
        val docs = Tables.documents(s, d)
        Dedup.incrementalExact(
          docs.filter(col("doc_id") % 10 =!= 0),
          docs.filter(col("doc_id") % 10 === 0),
          "text", "doc_id")
      },
      Some("""
        WITH ex AS (SELECT DISTINCT md5(text) AS h FROM documents
                    WHERE doc_id % 10 = 0),
        inc AS (SELECT md5(text) AS content_md5, min(doc_id) AS keeper_id,
                       count(*) AS dup_count
                FROM documents WHERE doc_id % 10 <> 0 GROUP BY 1)
        SELECT content_md5, keeper_id, dup_count FROM inc
        WHERE content_md5 NOT IN (SELECT h FROM ex)""")),

    // Embedding-cosine near-dup (double-precision parity with the oracle).
    "d05_dedup_embedding" -> QueryDef(
      (s, d) => graft.operators.Similarity.cosinePairs(
        Tables.embeddings(s, d), threshold = 0.4),
      Some("""
        SELECT a.vec_id AS id1, b.vec_id AS id2,
               round(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                            CAST(b.embedding AS DOUBLE[])), 6) AS sim
        FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
        WHERE list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                     CAST(b.embedding AS DOUBLE[])) >= 0.4""")),

    // SemDeDup-style semantic dedup: coarse cluster (label) → exact
    // within-cluster cosine → drop the higher id of any ≥-threshold pair.
    "d09_semantic_dedup" -> QueryDef(
      (s, d) => graft.operators.Similarity.semanticDedup(
        Tables.embeddings(s, d), "label", threshold = 0.4),
      Some("""
        WITH e AS (SELECT label, vec_id, CAST(embedding AS DOUBLE[]) AS v
                   FROM embeddings),
        dropped AS (SELECT DISTINCT a.label AS c, b.vec_id AS id
                    FROM e a JOIN e b
                      ON a.label = b.label AND a.vec_id < b.vec_id
                    WHERE list_cosine_similarity(a.v, b.v) >= 0.4)
        SELECT e.label AS cluster, count(*) AS n_vecs,
               CAST(count(d.id) AS BIGINT) AS n_dropped,
               CAST(count(*) - count(d.id) AS BIGINT) AS n_kept
        FROM e LEFT JOIN dropped d ON e.label = d.c AND e.vec_id = d.id
        GROUP BY 1""")),

    // Sub-document chunk dedup (suffix-array-dedup stand-in): global
    // first-occurrence keeper per 4-word chunk, per-doc duplication stats.
    "d08_chunk_dedup" -> QueryDef(
      (s, d) => Dedup.chunkDedup(Tables.documents(s, d), "text", "doc_id",
        chunkWords = 4),
      Some("""
        WITH dd AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
        ch AS (SELECT doc_id, i AS chunk_idx,
                 array_to_string(ws[4*i+1 : 4*i+4], ' ') AS chunk
               FROM dd, LATERAL (SELECT unnest(range(0,
                 CAST(ceil(len(ws) / 4.0) AS BIGINT))) AS i) t),
        r AS (SELECT doc_id, chunk_idx,
                row_number() OVER (PARTITION BY chunk
                                   ORDER BY doc_id, chunk_idx) AS rn
              FROM ch)
        SELECT doc_id, count(*) AS n_chunks,
               CAST(sum(CASE WHEN rn > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup_chunks,
               round(1 - sum(CASE WHEN rn > 1 THEN 1 ELSE 0 END) * 1.0 / count(*), 6)
                 AS uniq_ratio
        FROM r GROUP BY 1""")),

    // Quality-aware canonical selection: near-dup clusters (the d06
    // pipeline) keep their HIGHEST-quality member, not their lowest id —
    // the "keep the best copy" step a curation pipeline actually ships.
    // Oracle: d06's transitive closure + t02's quality score + one
    // first_value window, all in shared SQL.
    "d10_canonical_selection" -> QueryDef(
      (s, d) => {
        val docs = Tables.documents(s, d)
        val clusters = Dedup.connectedComponents(
          Dedup.jaccardPairs(docs, "text", "doc_id",
            shingleN = 3, threshold = 0.8))
        Dedup.canonicalByScore(
          graft.operators.TextAnalysis.qualityMetrics(docs, "text")
            .select(col("doc_id"), col("quality_score")),
          clusters, "doc_id", "quality_score")
      },
      Some(closureCtes + s""",
        t2 AS (SELECT doc_id, text, string_split(text, ' ') AS ws2 FROM documents),
        m AS (SELECT doc_id,
                CAST(len(ws2) AS DOUBLE) AS nw,
                CAST(len(list_filter(ws2, w -> w IN ${enList})) AS DOUBLE) AS stops,
                CAST(len(list_distinct(ws2)) AS DOUBLE) AS uniq,
                CASE WHEN strlen(text) > 0 THEN
                       CAST(strlen(regexp_replace(text, '[^a-zA-Z]', '', 'g')) AS DOUBLE)
                         / CAST(strlen(text) AS DOUBLE)
                     WHEN strlen(text) = 0 THEN 0.0 END AS alpha
              FROM t2),
        q AS (SELECT doc_id,
                round(least(nw / 100.0, 1.0) * 0.3 +
                      least(stops / nw * 5.0, 1.0) * 0.3 +
                      uniq / nw * 0.2 + alpha * 0.2, 6) AS score
              FROM m),
        lab AS (SELECT q.doc_id, q.score,
                       coalesce(c.component, q.doc_id) AS component
                FROM q LEFT JOIN comp c ON q.doc_id = c.doc_id)
        SELECT doc_id, score,
               first_value(doc_id) OVER
                 (PARTITION BY component ORDER BY score DESC, doc_id)
                 AS canonical_id,
               doc_id = first_value(doc_id) OVER
                 (PARTITION BY component ORDER BY score DESC, doc_id)
                 AS is_canonical
        FROM lab""")),

    // Leakage-safe train/val split: the split hashes the near-dup
    // CLUSTER id (d06's components), not the doc id, so a training
    // document's near-duplicate can never land in the validation set.
    // Oracle: the shared closure + the t10 split-hash CASE on the
    // component.
    "d15_leakage_safe_split" -> QueryDef(
      (s, d) => {
        val docs = Tables.documents(s, d)
        val clusters = Dedup.connectedComponents(
          Dedup.jaccardPairs(docs, "text", "doc_id",
            shingleN = 3, threshold = 0.8))
        Dedup.leakageSafeSplit(docs, clusters, "doc_id")
      },
      Some(closureCtes + s"""
        SELECT dd.doc_id,
               coalesce(c.component, dd.doc_id) AS component,
               CASE WHEN ${PH.sqlMd5_64(
                 "CAST(coalesce(c.component, dd.doc_id) AS VARCHAR)")} % 100 < 90
                    THEN 'train' ELSE 'val' END AS split
        FROM documents dd LEFT JOIN comp c ON dd.doc_id = c.doc_id""")),

    // Cross-corpus boilerplate removal (CCNet-style): chunks appearing in
    // > 3 distinct documents are cut from every document's rebuilt text.
    // The removal sibling of d08's keep-first chunk dedup.
    "d11_boilerplate_removal" -> QueryDef(
      (s, d) => Dedup.removeBoilerplate(Tables.documents(s, d), "text",
        "doc_id", chunkWords = 4, maxDocs = 3),
      Some("""
        WITH dd AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
        ch AS (SELECT doc_id, i AS chunk_idx,
                 array_to_string(ws[4*i+1 : 4*i+4], ' ') AS chunk
               FROM dd, LATERAL (SELECT unnest(range(0,
                 CAST(ceil(len(ws) / 4.0) AS BIGINT))) AS i) t),
        b AS (SELECT chunk FROM ch GROUP BY 1
              HAVING count(DISTINCT doc_id) > 3),
        f AS (SELECT ch.doc_id, ch.chunk_idx, ch.chunk,
                     (b.chunk IS NOT NULL) AS is_b
              FROM ch LEFT JOIN b ON ch.chunk = b.chunk)
        SELECT doc_id, count(*) AS n_chunks,
               CAST(sum(CASE WHEN is_b THEN 1 ELSE 0 END) AS BIGINT)
                 AS n_boiler_chunks,
               coalesce(string_agg(CASE WHEN NOT is_b THEN chunk END,
                                   ' ' ORDER BY chunk_idx), '') AS clean_text
        FROM f GROUP BY 1""")),

    // ExactSubstr-style duplicated-span stats (Lee et al. 2021's
    // suffix-array criterion — any ≥L-token span occurring verbatim ≥2
    // times in the corpus — without the suffix array: L-shingle-hash
    // multiplicity + per-doc gaps-and-islands merge). Oracle replays the
    // portable shingle hash, the window multiplicity count, and the
    // island merge in shared-semantics SQL.
    "d12_duplicate_spans" -> QueryDef(
      (s, d) => Dedup.duplicateSpanStats(Tables.documents(s, d), "text",
        "doc_id", spanTokens = SpanL),
      Some(s"""
        WITH dd AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
        occ AS (SELECT doc_id, i - 1 AS pos,
                  ${graft.functions.PortableHash.sqlMd5_64(s"array_to_string(ws[i:i+$SpanL-1], ' ')")} AS h
                FROM dd, LATERAL (SELECT unnest(range(1, len(ws) - $SpanL + 2)) AS i) t
                WHERE len(ws) >= $SpanL),
        dup AS (SELECT doc_id, pos FROM (
                  SELECT doc_id, pos, count(*) OVER (PARTITION BY h) AS cnt
                  FROM occ)
                WHERE cnt >= 2),
        isl AS (SELECT doc_id, pos,
                  CASE WHEN pos - lag(pos) OVER (PARTITION BY doc_id ORDER BY pos)
                         <= $SpanL
                       THEN 0 ELSE 1 END AS brk
                FROM dup),
        grp AS (SELECT doc_id, pos,
                  sum(brk) OVER (PARTITION BY doc_id ORDER BY pos) AS g
                FROM isl),
        sp AS (SELECT doc_id, g, count(*) AS npos,
                 max(pos) + $SpanL - min(pos) AS covered
               FROM grp GROUP BY doc_id, g),
        agg AS (SELECT doc_id, CAST(sum(npos) AS BIGINT) AS n_dup_pos,
                  CAST(count(*) AS BIGINT) AS n_spans,
                  CAST(sum(covered) AS BIGINT) AS dup_tokens
                FROM sp GROUP BY doc_id)
        SELECT d2.doc_id,
               CAST(len(string_split(d2.text, ' ')) AS BIGINT) AS n_tokens,
               coalesce(n_dup_pos, 0) AS n_dup_pos,
               coalesce(n_spans, 0) AS n_spans,
               coalesce(dup_tokens, 0) AS dup_tokens,
               round(coalesce(dup_tokens, 0) * 1.0
                     / len(string_split(d2.text, ' ')), 6) AS dup_ratio
        FROM documents d2 LEFT JOIN agg USING (doc_id)""")),

    // Pure-SQL MinHash-LSH (the SQL-reachability twin of d03): the
    // registered `graft_minhash_sig` kernel computes every signature in
    // one zero-shuffle projection, and banding, bucket capping, candidate
    // generation, and exact-Jaccard verification are plain SQL — a
    // SQL-only user runs the whole near-dup pipeline without Scala.
    // Semantics differ from d03 in exactly one documented way: no
    // document-frequency cap (a per-row kernel can't see corpus DF), so
    // signatures minimize over the FULL shingle set. The oracle replays
    // that uncapped pipeline bit-for-bit.
    "d13_sql_minhash" -> QueryDef(
      (s, d) => {
        graft.plans.GraftExtensions.register(s)
        val docs = Tables.documents(s, d)
        docs.createOrReplaceTempView("documents_sql")
        s.sql(sqlMinhashSparkSql(
          spread = // width probe without a second physical-planning
            // pass (r18) — see Dedup.planWidth
            Dedup.planWidth(docs).exists(_ < s.sparkContext.defaultParallelism),
          numPartitions = s.sparkContext.defaultParallelism))
      },
      Some(minhashLshOracle(k = 32, bands = 8, dfCap = 0))),

    // Community-keyed canonical selection (r8 capstone): the graph
    // family composed INTO the curation stack, end-to-end — d03's
    // verified near-dup pairs become a jaccard-weighted similarity
    // graph, sync LPA (q113's operator, weighted votes, self-vote at
    // full tie strength 1e6 = a jaccard-1.0 neighbor) collapses
    // template farms / mirror networks into communities, and each
    // community keeps its HIGHEST-quality member (d10's selection
    // keyed on community instead of connected component — communities
    // refine components, so a bridge document that merely links two
    // farms no longer drags both into one keeper pool). Docs with no
    // near-dup edge are their own community. The oracle composes three
    // already-oracled stages (d03's pair CTEs + q113's unrolled
    // weighted votes + d10's quality window) in one CTE chain.
    "d17_community_canonical" -> QueryDef(
      (s, d) => {
        val docs = Tables.documents(s, d)
        val pairs = Dedup.minhashLsh(docs, "text", "doc_id",
          k = 32, bands = 8, shingleN = 3, threshold = 0.8)
        // integer weight in 1e6 units of jaccard; floor(x*1e6 + 0.5) is
        // the same IEEE op sequence DuckDB runs on the same 6dp-rounded
        // double, so both engines land on the identical Long
        val edges = pairs.select(col("id1").as("src"), col("id2").as("dst"),
          floor(col("jaccard") * 1000000d + 0.5d).cast("long").as("w"))
        val comm = graft.operators.GraphRank.labelCommunities(
          edges, "src", "dst", iterations = 4,
          weightCol = Some("w"), selfWeight = 1000000L)
        val scores = graft.operators.TextAnalysis.qualityMetrics(docs, "text")
          .select(col("doc_id"), col("quality_score"))
        Dedup.canonicalByScore(scores,
          comm.select(col("node").as("id"), col("community").as("component")),
          "doc_id", "quality_score")
      },
      Some(communityCanonicalOracle(iterations = 4, selfWeight = 1000000L))),

    // Bounded min-label connected components (r8): the SCALE path for
    // d06's clustering — synchronous min-label propagation over the
    // verified near-dup pair graph (6 rounds ≥ near-dup cluster
    // diameter), action-free and unrolled-CTE replayable where the
    // recursive-closure CTE is neither available nor bounded at 100 TB.
    // Converged labels equal d06's min-reachable-id components exactly
    // (spec-asserted against Dedup.connectedComponents — two
    // independent implementations cross-validated); the `converged`
    // flag is a 1-row broadcast edge-agreement check, not a fixpoint.
    "d18_minlabel_components" -> QueryDef(
      (s, d) => {
        val pairs = Dedup.jaccardPairs(Tables.documents(s, d), "text",
          "doc_id", shingleN = 3, threshold = 0.8)
        graft.operators.GraphRank.minLabelComponents(pairs, "id1", "id2",
          rounds = 6)
      },
      Some(minLabelOracle(rounds = 6))),

    // Corpus snapshot diff: old = 90% of docs, new = drops every 13th,
    // revises every 7th — the operator classifies every id as added /
    // removed / changed / unchanged from (id, content-hash) pairs alone.
    "d14_snapshot_diff" -> QueryDef(
      (s, d) => {
        val docs = Tables.documents(s, d)
        val oldSnap = docs.filter(col("doc_id") % 10 =!= 0)
        val newSnap = docs.filter(col("doc_id") % 13 =!= 0)
          .withColumn("text", when(col("doc_id") % 7 === 0,
            concat(col("text"), lit(" rev2"))).otherwise(col("text")))
        Dedup.snapshotDiff(oldSnap, newSnap, "text", "doc_id")
          .withColumnRenamed("id", "doc_id")
      },
      Some("""
        WITH so AS (SELECT doc_id, md5(text) AS old_md5 FROM documents
                    WHERE doc_id % 10 <> 0),
        sn AS (SELECT doc_id,
                      md5(CASE WHEN doc_id % 7 = 0 THEN text || ' rev2'
                               ELSE text END) AS new_md5
               FROM documents WHERE doc_id % 13 <> 0)
        SELECT coalesce(so.doc_id, sn.doc_id) AS doc_id, old_md5, new_md5,
               CASE WHEN old_md5 IS NULL THEN 'added'
                    WHEN new_md5 IS NULL THEN 'removed'
                    WHEN old_md5 = new_md5 THEN 'unchanged'
                    ELSE 'changed' END AS status
        FROM so FULL OUTER JOIN sn ON so.doc_id = sn.doc_id"""))
  )

  /** d18's oracle: the shared pair/edge CTEs (closureCtes' `edges`)
    * plus the min-label rounds unrolled and the edge-agreement
    * convergence flag — replaying GraphRank.minLabelComponents.
    * (closureCtes' recursive `reach`/`comp` go unreferenced here and
    * are never evaluated.)
    */
  private def minLabelOracle(rounds: Int): String = {
    val iterCtes = (1 to rounds).map { i =>
      val prev = if (i == 1) "mc0" else s"mc${i - 1}"
      s"""mc$i AS MATERIALIZED (
        SELECT node, min(comp) AS comp FROM (
          SELECT eg.b AS node, p.comp FROM edges eg JOIN $prev p ON p.node = eg.a
          UNION ALL SELECT node, comp FROM $prev) u
        GROUP BY node)"""
    }.mkString(",\n")
    closureCtes + s""",
      mc0 AS (SELECT DISTINCT a AS node, a AS comp FROM edges),
      $iterCtes,
      mconv AS (SELECT coalesce(bool_and(x.comp = y.comp), true) AS converged
                FROM edges eg JOIN mc$rounds x ON eg.a = x.node
                              JOIN mc$rounds y ON eg.b = y.node)
      SELECT node, comp AS component, converged
      FROM mc$rounds CROSS JOIN mconv"""
  }

  /** d17's oracle: three already-oracled stages in one CTE chain —
    * d03's candidate/verification CTEs (verified pairs + exact jaccard),
    * q113's weighted sync-LPA votes unrolled (neighbor votes at the
    * 1e6-unit integer jaccard weight, self-vote at `selfWeight`, total
    * (sum DESC, label ASC) tie rule), and d10's quality score + keeper
    * window keyed on the COMMUNITY.
    */
  private def communityCanonicalOracle(iterations: Int, selfWeight: Long): String = {
    val iterCtes = (1 to iterations).map { i =>
      val prev = if (i == 1) "l0" else s"l${i - 1}"
      s"""l$i AS MATERIALIZED (
        SELECT node, label FROM (
          SELECT node, label,
                 row_number() OVER (PARTITION BY node
                                    ORDER BY c DESC, label ASC) AS rn
          FROM (SELECT node, label, sum(v) AS c FROM (
                  SELECT ge.dst AS node, m.label, ge.w AS v
                  FROM ge JOIN $prev m ON m.node = ge.src
                  UNION ALL SELECT node, label, $selfWeight AS v FROM $prev) u
                GROUP BY node, label) g) t
        WHERE rn = 1)"""
    }.mkString(",\n")
    s"""
    ${minhashCandCtes(32, 8, graft.operators.Dedup.DefaultDfCap)},
    sz AS (SELECT doc_id, count(*) AS n FROM shc GROUP BY 1),
    com AS (SELECT id1, id2, count(*) AS c
            FROM cand JOIN shc sa ON sa.doc_id = id1
                      JOIN shc sb ON sb.doc_id = id2 AND sa.s = sb.s
            GROUP BY 1, 2),
    vp AS (SELECT id1, id2, round(c * 1.0 / (s1.n + s2.n - c), 6) AS jaccard
           FROM com JOIN sz s1 ON id1 = s1.doc_id JOIN sz s2 ON id2 = s2.doc_id
           WHERE c * 1.0 / (s1.n + s2.n - c) >= 0.8),
    wts AS (SELECT id1, id2,
                   CAST(floor(jaccard * 1000000 + 0.5) AS BIGINT) AS w
            FROM vp),
    ge AS MATERIALIZED (
      SELECT id1 AS src, id2 AS dst, w FROM wts
      UNION ALL SELECT id2 AS src, id1 AS dst, w FROM wts),
    l0 AS (SELECT DISTINCT src AS node, src AS label FROM ge),
    $iterCtes,
    comm AS (SELECT node, label AS community FROM l$iterations),
    t2 AS (SELECT doc_id, text, string_split(text, ' ') AS ws2 FROM documents),
    m AS (SELECT doc_id,
            CAST(len(ws2) AS DOUBLE) AS nw,
            CAST(len(list_filter(ws2, w -> w IN ${enList})) AS DOUBLE) AS stops,
            CAST(len(list_distinct(ws2)) AS DOUBLE) AS uniq,
            CASE WHEN strlen(text) > 0 THEN
                   CAST(strlen(regexp_replace(text, '[^a-zA-Z]', '', 'g')) AS DOUBLE)
                     / CAST(strlen(text) AS DOUBLE)
                 WHEN strlen(text) = 0 THEN 0.0 END AS alpha
          FROM t2),
    q AS (SELECT doc_id,
            round(least(nw / 100.0, 1.0) * 0.3 +
                  least(stops / nw * 5.0, 1.0) * 0.3 +
                  uniq / nw * 0.2 + alpha * 0.2, 6) AS score
          FROM m),
    lab AS (SELECT q.doc_id, q.score,
                   coalesce(cm.community, q.doc_id) AS component
            FROM q LEFT JOIN comm cm ON q.doc_id = cm.node)
    SELECT doc_id, score,
           first_value(doc_id) OVER
             (PARTITION BY component ORDER BY score DESC, doc_id)
             AS canonical_id,
           doc_id = first_value(doc_id) OVER
             (PARTITION BY component ORDER BY score DESC, doc_id)
             AS is_canonical
    FROM lab"""
  }

  /** d13's Spark-SQL pipeline: kernel signatures → 8 band hashes (same
    * canonical comma-joined portable hash as [[Dedup.minhashCandidates]])
    * → bucket cap → candidate pairs → exact Jaccard over the uncapped
    * 3-shingle sets, semi-joined to candidates.
    */
  private def sqlMinhashSparkSql(spread: Boolean, numPartitions: Int): String = {
    // `spread` (r17, guide §2.5): when the documents scan is
    // unsplittable (single file / row group) the signature kernel runs
    // serially — a REPARTITION hint spreads it; the builder only sets
    // it when the scan plans fewer partitions than the session's
    // cores, so a corpus-scale run never pays a payload shuffle for
    // parallelism it already has. The count is EXPLICIT (r18): the
    // r17 no-arg hint was AQE-coalescible, and on a tiny-bytes/
    // heavy-kernel input the advisory size coalesced the spread right
    // back to one task (measured: 14 jobs / 15 tasks on d13). Sized by
    // the session's core knob, never a constant.
    val hint = if (spread) s"/*+ REPARTITION($numPartitions) */ " else ""
    s"""
    WITH sigs AS (
      SELECT $hint doc_id, graft_minhash_sig(text, 3, 32) AS sig FROM documents_sql),
    banded AS (
      SELECT doc_id, b,
             graft_md5_64(concat_ws(',', transform(slice(sig, b * 4 + 1, 4), x -> CAST(x AS STRING)))) AS bh
      FROM sigs LATERAL VIEW explode(sequence(0, 7)) t AS b),
    capped AS (
      SELECT doc_id, b, bh FROM (
        SELECT *, count(*) OVER (PARTITION BY b, bh) AS sz FROM banded)
      WHERE sz <= ${graft.operators.Dedup.DefaultBucketCap}),
    cand AS (
      SELECT DISTINCT a.doc_id AS id1, c.doc_id AS id2
      FROM capped a JOIN capped c
        ON a.b = c.b AND a.bh = c.bh AND a.doc_id < c.doc_id),
    shq AS (
      SELECT doc_id, explode(array_distinct(
               CASE WHEN size(ws) >= 3
                    THEN transform(sequence(1, size(ws) - 2),
                                   i -> concat_ws(' ', slice(ws, i, 3)))
                    ELSE array(concat_ws(' ', ws)) END)) AS s
      FROM (SELECT doc_id, split(text, ' ') AS ws FROM documents_sql)
      WHERE doc_id IN (SELECT id1 FROM cand UNION SELECT id2 FROM cand)),
    szs AS (SELECT doc_id, count(*) AS n FROM shq GROUP BY doc_id),
    com AS (SELECT id1, id2, count(*) AS c
            FROM cand JOIN shq sa ON sa.doc_id = id1
                      JOIN shq sb ON sb.doc_id = id2 AND sa.s = sb.s
            GROUP BY id1, id2)
    SELECT id1, id2, round(c / CAST(s1.n + s2.n - c AS DOUBLE), 6) AS jaccard
    FROM com JOIN szs s1 ON id1 = s1.doc_id JOIN szs s2 ON id2 = s2.doc_id
    WHERE c / CAST(s1.n + s2.n - c AS DOUBLE) >= 0.8"""
  }

  /** d12's minimum duplicated-span length in tokens (the paper uses 50
    * BPE tokens at web scale; the synthetic corpus' near-dup edits are
    * denser, so a smaller L keeps the gate non-trivial). */
  private val SpanL = 8

  // the quality-score stopword in-list, kept in sync with
  // TextAnalysis.markers (same contract as TextQueries' copy)
  private def enList: String =
    graft.operators.TextAnalysis.markers("en")
      .map(w => s"'$w'").mkString("(", ",", ")")
}
