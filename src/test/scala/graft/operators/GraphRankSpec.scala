package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Integer fixed-point PageRank (GraphRank): exactness, determinism
  * across partitionings, the documented mass contract, and agreement
  * with the textbook double-precision recurrence within fixed-point
  * granularity.
  */
class GraphRankSpec extends SparkSpec {
  import spark.implicits._

  private def ranksOf(edges: Seq[(Long, Long)], iters: Int = 5) =
    GraphRank.pageRank(edges.toDF("src", "dst"), "src", "dst", iters)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  // a 4-node graph with a clear authority: everyone links to node 1
  private val star = Seq(2L -> 1L, 3L -> 1L, 4L -> 1L, 1L -> 2L)

  test("authority ordering: the node everyone links to ranks highest") {
    val r = ranksOf(star)
    r(1L) should be > r(2L)
    // 3 and 4 are symmetric sinks of nothing: identical rank, below 2
    r(3L) shouldBe r(4L)
    r(2L) should be > r(3L)
  }

  test("hand-computed first iteration on the star graph") {
    // N=4, r0 = 250_000_000; base = 15e8/400 = 37_500_00? -> compute:
    // base = (15 * 1e9) / (100 * 4) = 37_500_000.
    // in(1) = r0/1 * 3 (from 2,3,4) = 750_000_000 -> r(1) = base + 85*in/100
    val r = ranksOf(star, iters = 1)
    val r0 = 1000000000L / 4
    val base = (15L * 1000000000L) / (100L * 4)
    r(1L) shouldBe base + (85L * (3 * r0)) / 100
    r(2L) shouldBe base + (85L * r0) / 100 // only 1 -> 2
    r(3L) shouldBe base                    // no in-edges
    r(4L) shouldBe base
  }

  test("bit-identical across partitionings and reruns (the fixed-point claim)") {
    val pairs = (0L until 200L).map(i => i -> (i * 7 + 3) % 200)
    val a = ranksOf(pairs)
    val edges = pairs.toDF("src", "dst").repartition(7)
    val b = GraphRank.pageRank(edges, "src", "dst", 5)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    a shouldBe b
  }

  test("mass contract: total units never exceed the initial mass and leak is bounded") {
    val pairs = (0L until 100L).flatMap(i =>
      Seq(i -> (i + 1) % 100, i -> (i * 13 + 7) % 100))
    val df = GraphRank.pageRank(pairs.toDF("src", "dst"), "src", "dst", 5)
    val total = df.agg(sum("rank_units")).as[Long].head()
    val units = GraphRank.DefaultUnits
    total should be <= units
    // leak per iteration < (edges + nodes) units + damping truncation;
    // on this 200-edge graph 5 iterations leak far less than 0.1% of mass
    total should be >= (units * 999L) / 1000
  }

  test("parallel edges collapse: duplicated edge rows do not change ranks") {
    val dup = star ++ star ++ star
    ranksOf(dup) shouldBe ranksOf(star)
  }

  test("tracks the double-precision recurrence within fixed-point granularity") {
    val pairs = (0L until 50L).flatMap(i =>
      Seq(i -> (i * 3 + 1) % 50, (i * 11 + 2) % 50 -> i))
    val got = ranksOf(pairs, iters = 5)
    // reference double-precision PageRank with the same dangling-drop
    // and parallel-edge-collapse semantics
    val e = pairs.distinct
    val nodes = (e.map(_._1) ++ e.map(_._2)).distinct
    val out = e.groupBy(_._1).map { case (s, es) => s -> es.size }
    var r = nodes.map(_ -> 1.0 / nodes.size).toMap
    for (_ <- 1 to 5) {
      val in = e.groupBy(_._2).map { case (d, es) =>
        d -> es.map(x => r(x._1) / out(x._1)).sum
      }
      r = nodes.map(n => n -> (0.15 / nodes.size + 0.85 * in.getOrElse(n, 0.0))).toMap
    }
    val units = GraphRank.DefaultUnits.toDouble
    nodes.foreach { n =>
      // integer truncation drops <1 unit per edge per round; with ≤100
      // edges and 5 rounds the drift stays well under 1e-5 of mass
      math.abs(got(n) / units - r(n)) should be < 1e-5
    }
  }

  // --- weighted edges ---

  test("weighted: rank follows edge weight; parallel unweighted edges do NOT add") {
    // 1 sends 9x more mass to 2 than to 3
    val weighted = Seq((1L, 2L, 9L), (1L, 3L, 1L), (2L, 1L, 1L), (3L, 1L, 1L))
      .toDF("src", "dst", "w")
    val r = GraphRank.pageRank(weighted, "src", "dst", 5,
        weightCol = Some("w"))
      .collect().map(x => x.getLong(0) -> x.getLong(1)).toMap
    r(2L) should be > r(3L)
    // the unweighted path collapses parallel edges, so replicating the
    // (1,2) edge 9 times changes nothing there
    val dup = (Seq.fill(9)((1L, 2L)) ++ Seq((1L, 3L), (2L, 1L), (3L, 1L)))
      .toDF("src", "dst")
    val ru = GraphRank.pageRank(dup, "src", "dst", 5)
      .collect().map(x => x.getLong(0) -> x.getLong(1)).toMap
    ru(2L) shouldBe ru(3L)
  }

  test("weighted: scaling every weight by a common factor is bit-identical") {
    val base = (0L until 80L).map(i => (i, (i * 7 + 3) % 80, (i % 5) + 1))
    def run(f: Long) = GraphRank.pageRank(
      base.map { case (s, d, w) => (s, d, w * f) }.toDF("src", "dst", "w"),
      "src", "dst", 5, weightCol = Some("w"))
      .collect().map(x => x.getLong(0) -> x.getLong(1)).toMap
    run(1L) shouldBe run(1000L) // (k*a) div (k*b) = a div b, per edge
  }

  test("weighted: parallel weighted edges add, and uniform weights equal unweighted") {
    val split = Seq((1L, 2L, 4L), (1L, 2L, 5L), (1L, 3L, 1L), (2L, 1L, 1L),
      (3L, 1L, 1L)).toDF("src", "dst", "w")
    val merged = Seq((1L, 2L, 9L), (1L, 3L, 1L), (2L, 1L, 1L), (3L, 1L, 1L))
      .toDF("src", "dst", "w")
    def run(df: org.apache.spark.sql.DataFrame) =
      GraphRank.pageRank(df, "src", "dst", 3, weightCol = Some("w"))
        .collect().map(x => x.getLong(0) -> x.getLong(1)).toMap
    run(split) shouldBe run(merged)
    val uni = star.map { case (s, d) => (s, d, 7L) }.toDF("src", "dst", "w")
    run(uni) shouldBe ranksOf(star, iters = 3)
  }

  // --- TrustRank ---

  test("trustRank: mass is reachable only through link paths from seeds") {
    // seed 1 -> 2 -> 3; node 10 -> 11 is a disconnected "link farm"
    val e = Seq(1L -> 2L, 2L -> 3L, 10L -> 11L, 11L -> 10L)
    val seeds = Seq(Tuple1(1L)).toDF("node")
    val r = GraphRank.trustRank(e.toDF("src", "dst"), "src", "dst", seeds, 5)
      .collect().map(x => x.getLong(0) -> x.getLong(1)).toMap
    // the farm gets zero: no path from the seed reaches it
    r(10L) shouldBe 0L
    r(11L) shouldBe 0L
    // trust decays along the path: seed > its target > the next hop
    r(1L) should be > r(2L)
    r(2L) should be > r(3L)
    r(3L) should be > 0L
  }

  test("trustRank: with every node seeded it equals pageRank") {
    val pairs = (0L until 60L).map(i => i -> (i * 7 + 3) % 60)
    val edges = pairs.toDF("src", "dst")
    val all = pairs.flatMap(p => Seq(p._1, p._2)).distinct.map(Tuple1(_))
      .toDF("node")
    val tr = GraphRank.trustRank(edges, "src", "dst", all, 4)
      .collect().map(x => x.getLong(0) -> x.getLong(1)).toMap
    val pr = GraphRank.pageRank(edges, "src", "dst", 4)
      .collect().map(x => x.getLong(0) -> x.getLong(1)).toMap
    tr shouldBe pr
  }

  test("trustRank: seeds outside the graph are ignored; none present throws") {
    val e = Seq(1L -> 2L).toDF("src", "dst")
    val r = GraphRank.trustRank(e, "src", "dst",
      Seq(Tuple1(1L), Tuple1(99L)).toDF("node"), 2)
      .collect().map(x => x.getLong(0) -> x.getLong(1)).toMap
    r.keySet shouldBe Set(1L, 2L)
    an[IllegalArgumentException] should be thrownBy
      GraphRank.trustRank(e, "src", "dst", Seq(Tuple1(99L)).toDF("node"), 2)
  }

  // --- label propagation ---

  private def lpOf(edges: Seq[(Long, Long)], seeds: Seq[(Long, Long)],
                   iters: Int = 4) =
    GraphRank.labelPropagation(edges.toDF("src", "dst"),
        "src", "dst", seeds.toDF("node", "label"), "node", "label", iters)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap

  test("label propagation: labels reach neighbors and the closer seed wins") {
    // chain: 1 -- 2 -- 3 -- 4 -- 5 (bidirectional), seeds 1->A(10), 5->B(20)
    val chain = Seq(1L -> 2L, 2L -> 3L, 3L -> 4L, 4L -> 5L)
    val bidir = chain ++ chain.map(_.swap)
    val r = lpOf(bidir, Seq(1L -> 10L, 5L -> 20L))
    r(2L)._1 shouldBe 10L // nearer to seed A
    r(4L)._1 shouldBe 20L // nearer to seed B
    r(1L)._1 shouldBe 10L // seeds keep their own label (clamp dominates)
    r(5L)._1 shouldBe 20L
    // 3 is equidistant: both labels present, tie broken to the SMALLER
    val mid = GraphRank.labelPropagation(bidir.toDF("src", "dst"), "src", "dst",
      Seq(1L -> 10L, 5L -> 20L).toDF("node", "label"), "node", "label", 4)
      .filter(col("node") === 3L).select("label", "n_labels")
      .as[(Long, Long)].head()
    mid shouldBe ((10L, 2L))
  }

  test("label propagation: unreached nodes are absent, not mislabeled") {
    val e = Seq(1L -> 2L, 2L -> 1L, 8L -> 9L, 9L -> 8L) // two components
    val r = lpOf(e, Seq(1L -> 7L))
    r.keySet shouldBe Set(1L, 2L) // the 8-9 island has no seed path
  }

  test("label propagation: weighted — labels follow the weight SPLIT") {
    // weight matters only where a source splits mass across out-edges
    // (contribution = m·w div W_src): each seed sends 9/10 of its mass
    // down its heavy edge, so 3 inherits A and 4 inherits B — under
    // uniform weights both nodes would TIE (to the smaller label, A)
    val e = Seq((1L, 3L, 9L), (1L, 4L, 1L), (2L, 3L, 1L), (2L, 4L, 9L))
      .toDF("src", "dst", "w")
    val seeds = Seq(1L -> 10L, 2L -> 20L).toDF("node", "label")
    val r = GraphRank.labelPropagation(e, "src", "dst", seeds,
        "node", "label", iterations = 2, weightCol = Some("w"))
      .collect().map(x => x.getLong(0) -> x.getLong(1)).toMap
    r(3L) shouldBe 10L
    r(4L) shouldBe 20L
    // same graph, uniform weights: the split is 50/50 and the tie rule
    // (smaller label) gives BOTH nodes label A — the weighted result
    // above is genuinely weight-driven, not topology-driven
    val u = GraphRank.labelPropagation(e.drop("w"), "src", "dst", seeds,
        "node", "label", iterations = 2)
      .collect().map(x => x.getLong(0) -> x.getLong(1)).toMap
    u(3L) shouldBe 10L
    u(4L) shouldBe 10L
  }

  test("label propagation: uniform weights equal the unweighted path bit-for-bit") {
    val chain = Seq(1L -> 2L, 2L -> 3L, 3L -> 4L, 4L -> 5L)
    val bidir = chain ++ chain.map(_.swap)
    val seeds = Seq(1L -> 10L, 5L -> 20L)
    val unweighted = GraphRank.labelPropagation(bidir.toDF("src", "dst"),
        "src", "dst", seeds.toDF("node", "label"), "node", "label", 4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    // all weights 7: (7·m) div (7·W) = m div W — common factors cancel
    val weighted = GraphRank.labelPropagation(
        bidir.map { case (s, d) => (s, d, 7L) }.toDF("src", "dst", "w"),
        "src", "dst", seeds.toDF("node", "label"), "node", "label", 4,
        weightCol = Some("w"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    weighted shouldBe unweighted
  }

  test("label propagation: a top-L cap at or above the label count is the exact path") {
    val chain = Seq(1L -> 2L, 2L -> 3L, 3L -> 4L, 4L -> 5L)
    val bidir = chain ++ chain.map(_.swap)
    val seeds = Seq(1L -> 10L, 5L -> 20L)
    def run(cap: Option[Int]) = GraphRank.labelPropagation(
        bidir.toDF("src", "dst"), "src", "dst",
        seeds.toDF("node", "label"), "node", "label", 4,
        maxLabelsPerNode = cap)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    run(Some(2)) shouldBe run(None) // only 2 labels exist: cap is exact
    // beam width 1: every node carries exactly one label and the
    // closer-seed argmax survives the cut
    val beam = GraphRank.labelPropagation(bidir.toDF("src", "dst"), "src", "dst",
        seeds.toDF("node", "label"), "node", "label", 4,
        maxLabelsPerNode = Some(1))
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(3)))).toMap
    beam.values.map(_._2).toSet shouldBe Set(1L) // n_labels == 1 everywhere
    beam(2L)._1 shouldBe 10L
    beam(4L)._1 shouldBe 20L
  }

  test("label propagation: the dense closed-universe path is bit-identical to sparse") {
    // a messy graph: ring + chords + a seedless island, 3 labels
    val ring = (0L until 40L).map(i => i -> (i + 1) % 40)
    val chords = Seq(0L -> 20L, 5L -> 33L, 12L -> 27L)
    val island = Seq(100L -> 101L, 101L -> 100L)
    val edges = (ring ++ chords ++ island).flatMap(p => Seq(p, p.swap))
    val seeds = Seq(0L -> 7L, 13L -> 5L, 26L -> 9L)
    def collectSet(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
    val sparse = collectSet(GraphRank.labelPropagation(
      edges.toDF("src", "dst"), "src", "dst",
      seeds.toDF("node", "label"), "node", "label", 4))
    val dense = collectSet(GraphRank.labelPropagationDense(
      edges.toDF("src", "dst"), "src", "dst",
      seeds.toDF("node", "label"), "node", "label", Seq(5L, 7L, 9L), 4))
    dense shouldBe sparse
    // weighted: same equality with a weight column in play
    val wEdges = edges.zipWithIndex.map { case ((s, d), i) => (s, d, 1L + i % 3) }
    val sparseW = collectSet(GraphRank.labelPropagation(
      wEdges.toDF("src", "dst", "w"), "src", "dst",
      seeds.toDF("node", "label"), "node", "label", 4, weightCol = Some("w")))
    val denseW = collectSet(GraphRank.labelPropagationDense(
      wEdges.toDF("src", "dst", "w"), "src", "dst",
      seeds.toDF("node", "label"), "node", "label", Seq(5L, 7L, 9L), 4,
      weightCol = Some("w")))
    denseW shouldBe sparseW
    // a seed label outside the declared universe must fail loudly
    an[IllegalArgumentException] shouldBe thrownBy {
      GraphRank.labelPropagationDense(edges.toDF("src", "dst"), "src", "dst",
        seeds.toDF("node", "label"), "node", "label", Seq(5L, 7L), 4)
    }
  }

  test("label propagation: degenerate inputs keep their contracts") {
    // no edges: seeds keep their own labels (clamp mass), nothing else
    val noEdges = GraphRank.labelPropagation(
        spark.emptyDataset[(Long, Long)].toDF("src", "dst"), "src", "dst",
        Seq(1L -> 10L).toDF("node", "label"), "node", "label", 2)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    noEdges shouldBe Map(1L -> 10L)
    // no seeds: no mass can ever exist — empty result, not an error
    GraphRank.labelPropagation(Seq(1L -> 2L).toDF("src", "dst"), "src", "dst",
      spark.emptyDataset[(Long, Long)].toDF("node", "label"),
      "node", "label", 2).count() shouldBe 0L
    // alphaNum == alphaDen zeroes every clamp: must fail loudly
    an[IllegalArgumentException] shouldBe thrownBy {
      GraphRank.labelPropagation(Seq(1L -> 2L).toDF("src", "dst"),
        "src", "dst", Seq(1L -> 10L).toDF("node", "label"), "node", "label",
        2, alphaNum = 100, alphaDen = 100)
    }
  }

  test("label propagation: bit-identical across partitionings") {
    val edges = (0L until 120L).flatMap(i =>
      Seq(i -> (i + 1) % 120, (i + 1) % 120 -> i))
    val seeds = (0L until 120L by 17L).map(i => i -> (i % 3))
    val a = lpOf(edges, seeds)
    val b = GraphRank.labelPropagation(
        edges.toDF("src", "dst").repartition(11), "src", "dst",
        seeds.toDF("node", "label"), "node", "label", 4)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    a shouldBe b
  }

  /** Spark jobs launched by broadcast exchanges while `body` runs, with
    * size-based broadcasting off, so only explicit hints count.
    */
  private def hintedBroadcasts(body: => Unit): Int = {
    val sc = spark.sparkContext
    val n = new java.util.concurrent.atomic.AtomicInteger
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(p =>
              Option(p.getProperty("spark.job.tags"))
                .exists(_.contains("broadcast exchange"))))
          n.incrementAndGet()
    }
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, "-1")
    sc.addSparkListener(listener)
    try body
    finally {
      org.apache.spark.ListenerBusAccess.waitUntilEmpty(sc)
      sc.removeSparkListener(listener)
      prev.fold(spark.conf.unset(key))(spark.conf.set(key, _))
    }
    n.get
  }

  test("label propagation: a seed set far larger than the graph is not broadcast") {
    // the mass table carries every clamp row, also for seeds outside the
    // edge list, so the per-round bar must price the seeds, not only
    // nodes × labels (4 × 2 here)
    val edges = Seq(1L -> 2L, 2L -> 3L, 3L -> 4L, 4L -> 1L).toDF("src", "dst")
    val few = Seq(1L -> 0L, 3L -> 1L).toDF("node", "label")
    val many = spark.range(GraphRank.BroadcastNodesMax + 1)
      .select((col("id") + 100L).as("node"), (col("id") % 2).as("label"))
      .union(few)
    def sparse(seeds: org.apache.spark.sql.DataFrame) = hintedBroadcasts {
      GraphRank.labelPropagationMasses(edges, "src", "dst", seeds,
        "node", "label", iterations = 1).count()
    }
    def dense(seeds: org.apache.spark.sql.DataFrame) = hintedBroadcasts {
      GraphRank.labelPropagationDense(edges, "src", "dst", seeds,
        "node", "label", Seq(0L, 1L), iterations = 1).count()
    }
    // the small seed set is under the bar: the hint is seen
    sparse(few) should be > 0
    dense(few) should be > 0
    sparse(many) shouldBe 0
    dense(many) shouldBe 0
  }

  // --- label-propagation communities (Raghavan et al. 2007, sync) ---

  private def commOf(edges: Seq[(Long, Long)], iters: Int = 4) =
    GraphRank.labelCommunities(edges.toDF("src", "dst"), "src", "dst", iters)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap

  test("communities: two triangles joined by a bridge split in two") {
    val e = Seq(1L -> 2L, 2L -> 3L, 1L -> 3L, // triangle A
                4L -> 5L, 5L -> 6L, 4L -> 6L, // triangle B
                3L -> 4L)                     // bridge
    val r = commOf(e)
    Seq(1L, 2L, 3L).map(r(_)._1).toSet shouldBe Set(1L)
    Seq(4L, 5L, 6L).map(r(_)._1).toSet shouldBe Set(4L)
    r(1L)._2 shouldBe 3L // csize
    r(5L)._2 shouldBe 3L
  }

  test("communities: the tie rule is total — a single edge settles on the smaller id") {
    // votes at both endpoints tie 1:1 (self vs neighbor); smallest wins
    val r = commOf(Seq(1L -> 2L))
    r(1L) shouldBe ((1L, 2L))
    r(2L) shouldBe ((1L, 2L))
  }

  test("communities: self-loops are ignored and direction does not matter") {
    val r = commOf(Seq(7L -> 7L, 2L -> 1L, 1L -> 2L))
    r.keySet shouldBe Set(1L, 2L) // 7 has only a self-loop: no edges
    r(2L)._1 shouldBe 1L
  }

  test("communities: bit-identical across partitionings") {
    // three 30-cycles plus two bridges
    val edges = (0L until 90L).map(i => i -> ((i + 1) % 30 + 30 * (i / 30))) ++
      Seq(0L -> 30L, 30L -> 60L)
    val a = commOf(edges)
    val b = GraphRank.labelCommunities(
        edges.toDF("src", "dst").repartition(13), "src", "dst", 4)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    a shouldBe b
  }

  test("communities: weighted votes — a strong tie beats a tie of weak ones") {
    // node 5's neighbors: 9 over weight 10, 1 and 2 over weight 1.
    // Unweighted, round 1 at node 5 is a 4-way tie → smallest label 1;
    // weighted, label 9's ten votes win outright.
    val e = Seq((9L, 5L, 10L), (5L, 1L, 1L), (5L, 2L, 1L), (1L, 2L, 1L))
    val unw = GraphRank.labelCommunities(
        e.map(t => (t._1, t._2)).toDF("src", "dst"), "src", "dst", 1)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    unw(5L) shouldBe 1L
    val wtd = GraphRank.labelCommunities(
        e.toDF("src", "dst", "w"), "src", "dst", 1, weightCol = Some("w"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    wtd(5L) shouldBe 9L
    // common-factor scaling of weights AND selfWeight changes nothing
    val scaled = GraphRank.labelCommunities(
        e.map(t => (t._1, t._2, t._3 * 7)).toDF("src", "dst", "w"),
        "src", "dst", 1, weightCol = Some("w"), selfWeight = 7L)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    scaled shouldBe wtd
    // uniform weights with a matching self-vote reduce to the unweighted path
    val uniform = GraphRank.labelCommunities(
        e.map(t => (t._1, t._2, 3L)).toDF("src", "dst", "w"),
        "src", "dst", 1, weightCol = Some("w"), selfWeight = 3L)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    uniform shouldBe unw
  }

  // --- triangle counting (degree-oriented wedge join) ---

  private def triOf(edges: Seq[(Long, Long)]) =
    GraphRank.triangles(edges.toDF("src", "dst"), "src", "dst")
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getDouble(3)))).toMap

  test("triangles: hand-computed counts and clustering coefficients") {
    // triangle {1,2,3} with pendant 4 on node 1
    val r = triOf(Seq(1L -> 2L, 2L -> 3L, 1L -> 3L, 1L -> 4L))
    r(1L) shouldBe ((3L, 1L, 0.333333)) // 2*1/(3*2)
    r(2L) shouldBe ((2L, 1L, 1.0))
    r(3L) shouldBe ((2L, 1L, 1.0))
    r(4L) shouldBe ((1L, 0L, 0.0)) // degree < 2: coefficient pinned to 0
  }

  test("triangles: a shared edge is counted into both triangles") {
    // {1,2,3} and {2,3,4} share edge 2-3
    val r = triOf(Seq(1L -> 2L, 1L -> 3L, 2L -> 3L, 2L -> 4L, 3L -> 4L))
    r(2L) shouldBe ((3L, 2L, 0.666667))
    r(3L) shouldBe ((3L, 2L, 0.666667))
    r(1L) shouldBe ((2L, 1L, 1.0))
    r(4L) shouldBe ((2L, 1L, 1.0))
  }

  test("triangles: a star has none, and double-listed directions do not double-count") {
    val star = Seq(1L -> 2L, 1L -> 3L, 1L -> 4L, 1L -> 5L)
    val r = triOf(star ++ star.map(_.swap)) // both directions listed
    r(1L) shouldBe ((4L, 0L, 0.0))
    r(2L) shouldBe ((1L, 0L, 0.0))
  }

  // --- k-core peel (Seidman 1983) ---

  private def coreOf(edges: Seq[(Long, Long)], k: Int, rounds: Int = 6) =
    GraphRank.kCore(edges.toDF("src", "dst"), "src", "dst", k, rounds)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getBoolean(2)))).toMap

  private val triPendant = Seq(1L -> 2L, 2L -> 3L, 1L -> 3L, 1L -> 4L)

  test("k-core: a pendant peels off the triangle at k=2") {
    val r = coreOf(triPendant, k = 2)
    r.keySet shouldBe Set(1L, 2L, 3L)
    r.values.toSet shouldBe Set((2L, true)) // all degree 2, converged
  }

  test("k-core: k above the densest core empties the graph") {
    coreOf(triPendant, k = 3) shouldBe Map.empty
  }

  test("k-core: a chain peels one layer per round; bounded rounds report non-convergence") {
    val chain = Seq(1L -> 2L, 2L -> 3L, 3L -> 4L, 4L -> 5L)
    coreOf(chain, k = 2, rounds = 6) shouldBe Map.empty // full peel
    val partial = coreOf(chain, k = 2, rounds = 1) // only endpoints dropped
    partial.keySet shouldBe Set(2L, 3L, 4L)
    partial(3L) shouldBe ((2L, false)) // still-peeling upper bound, flagged
    partial(2L)._2 shouldBe false
  }

  // --- HITS ---

  private def hitsOf(edges: Seq[(Long, Long)], iters: Int = 5) =
    GraphRank.hits(edges.toDF("src", "dst"), "src", "dst", iters)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap

  test("hits: on a bipartite graph the best-covered authority and the widest hub win") {
    // hubs 1,2,3 -> authorities 10,11,12; 10 cited by all, 1 cites all
    val e = Seq(1L -> 10L, 1L -> 11L, 1L -> 12L,
                2L -> 10L, 2L -> 11L, 3L -> 10L)
    val r = hitsOf(e)
    r(10L)._1 should be > r(11L)._1 // authority: 10 > 11
    r(11L)._1 should be > r(12L)._1
    r(1L)._2 should be > r(2L)._2 // hub: 1 > 2
    r(2L)._2 should be > r(3L)._2
    // pure hubs have no authority; pure authorities have no hub score
    r(1L)._1 shouldBe 0L
    r(10L)._2 shouldBe 0L
  }

  test("hits: bit-identical across partitionings") {
    val pairs = (0L until 150L).map(i => i -> (200 + (i * 11 + 3) % 60))
    val a = hitsOf(pairs)
    val b = GraphRank.hits(pairs.toDF("src", "dst").repartition(7), "src", "dst", 5)
      .collect().map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    a shouldBe b
  }

  test("hits: renormalization keeps total mass near totalUnits on both sides") {
    val pairs = (0L until 100L).map(i => i -> (500 + (i * 7) % 40))
    val df = GraphRank.hits(pairs.toDF("src", "dst"), "src", "dst", 5)
    val Seq(aTot, hTot) = df.agg(sum("auth_units"), sum("hub_units"))
      .collect().head.toSeq.map(_.asInstanceOf[Long]).toSeq
    val units = GraphRank.DefaultUnits
    // contraction divides by max(T div units, 1): result in (units/2, 2*units)
    aTot should be > units / 2
    aTot should be < units * 2
    hTot should be > units / 2
    hTot should be < units * 2
  }

  // ---------------------------------------- r8: routed entry point

  private def lpRows(df: org.apache.spark.sql.DataFrame) = df.collect()
    .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3))))
    .toMap

  test("labelPropagationAuto routes a small closed universe to the dense path, equal to both explicit paths") {
    // chain with two seed labels pulling from both ends
    val edges = Seq(1L -> 2L, 2L -> 3L, 3L -> 4L, 4L -> 5L, 5L -> 4L,
      2L -> 1L, 3L -> 2L, 4L -> 3L).toDF("src", "dst")
    val seeds = Seq((1L, 10L), (5L, 20L)).toDF("node", "label")
    val auto = lpRows(GraphRank.labelPropagationAuto(
      edges, "src", "dst", seeds, "node", "label", iterations = 3))
    val sparse = lpRows(GraphRank.labelPropagation(
      edges, "src", "dst", seeds, "node", "label", iterations = 3))
    val dense = lpRows(GraphRank.labelPropagationDense(
      edges, "src", "dst", seeds, "node", "label",
      labels = Seq(10L, 20L), iterations = 3))
    auto shouldBe dense
    auto shouldBe sparse // dense ≡ sparse uncapped, so routing is free
    auto.nonEmpty shouldBe true
  }

  test("labelPropagationAuto routes an open universe (> DenseLabelUniverseMax labels) to sparse with the default beam cap") {
    val l = GraphRank.DenseLabelUniverseMax + 6 // 70 distinct labels
    // every node i seeds its own label and links to a shared hub, so
    // the hub accumulates mass from ALL labels and the beam cap bites
    val edges = (1 to l).map(i => i.toLong -> 1000L).toDF("src", "dst")
    val seeds = (1 to l).map(i => (i.toLong, 100L + i)).toDF("node", "label")
    val auto = lpRows(GraphRank.labelPropagationAuto(
      edges, "src", "dst", seeds, "node", "label", iterations = 2))
    val cappedSparse = lpRows(GraphRank.labelPropagation(
      edges, "src", "dst", seeds, "node", "label", iterations = 2,
      maxLabelsPerNode = Some(GraphRank.DefaultLabelBeam)))
    auto shouldBe cappedSparse
    // the beam cap actually bit: the hub keeps DefaultLabelBeam labels,
    // not all 70 (n_labels is the kept count)
    auto(1000L)._3 shouldBe GraphRank.DefaultLabelBeam.toLong
  }

  // ---------------------------------------- r8: snapshot delta + frontier

  test("edgeDelta classifies added/removed/reweighted/unchanged (hand-computed, weighted)") {
    val oldE = Seq((1L, 2L, 1L), (1L, 2L, 1L), (2L, 3L, 1L), (3L, 4L, 1L))
      .toDF("src", "dst", "w")
    val newE = Seq((1L, 2L, 1L), (2L, 3L, 1L), (2L, 3L, 1L), (5L, 6L, 1L))
      .toDF("src", "dst", "w")
    val got = GraphRank.edgeDelta(oldE, newE, "src", "dst", Some("w"))
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getString(4)).toMap
    got shouldBe Map(
      (1L, 2L) -> "reweighted", // 2 parallel links -> 1
      (2L, 3L) -> "reweighted", // 1 -> 2
      (3L, 4L) -> "removed",
      (5L, 6L) -> "added")
    // unweighted: multiplicity is invisible, so both multi-link pairs
    // are unchanged and reweighted is unreachable
    val gotU = GraphRank.edgeDelta(oldE, newE, "src", "dst", None)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getString(4)).toMap
    gotU shouldBe Map(
      (1L, 2L) -> "unchanged", (2L, 3L) -> "unchanged",
      (3L, 4L) -> "removed", (5L, 6L) -> "added")
  }

  test("staleFrontier: hop 0 = changed dsts + changed srcs' new out-neighbors, then forward hops (hand-computed)") {
    def frontier(oldE: Seq[(Long, Long)], newE: Seq[(Long, Long)], hops: Int) =
      GraphRank.staleFrontier(oldE.toDF("src", "dst"), newE.toDF("src", "dst"),
        "src", "dst", hops)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // adding 0→1 at the head of a chain: 1 dirty at hop 0, influence
    // walks one hop per iteration
    val chain = Seq(1L -> 2L, 2L -> 3L, 3L -> 4L, 4L -> 5L)
    frontier(chain, (0L -> 1L) +: chain, hops = 2) shouldBe
      Map(1L -> 0L, 2L -> 1L, 3L -> 2L)
    // removing 1→3 changes node 1's out-weight, so its SURVIVING
    // neighbor 2 is dirty too, not just the lost target 3
    frontier(Seq(1L -> 2L, 1L -> 3L), Seq(1L -> 2L), hops = 0) shouldBe
      Map(2L -> 0L, 3L -> 0L)
    // min-hop wins when a node is reachable at two depths
    val oldD = Seq(1L -> 2L)
    val newD = Seq(1L -> 2L, 9L -> 2L, 2L -> 9L) // added 9→2 and 2→9
    // changed = {9→2, 2→9}: dirty0 = dsts {2, 9} ∪ outNbr_new(9)={2},
    // outNbr_new(2)={9} → {2, 9} at hop 0, and they stay hop 0
    frontier(oldD, newD, hops = 2) shouldBe Map(2L -> 0L, 9L -> 0L)
  }

  test("weighted-teleport trustRank: mass splits by seed weight; uniform weights equal unweighted; common-factor scaling is bit-identical") {
    val edges = Seq(1L -> 3L, 2L -> 4L, 3L -> 1L, 4L -> 2L).toDF("src", "dst")
    def tr(seeds: org.apache.spark.sql.DataFrame, swc: Option[String], it: Int = 1) =
      GraphRank.trustRank(edges, "src", "dst", seeds, it, seedWeightCol = swc)
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // weights 3:1 → seed 1 teleports 3× seed 2's mass
    val w31 = Seq((1L, 3L), (2L, 1L)).toDF("node", "tw")
    val r = tr(w31, Some("tw"))
    val units = GraphRank.DefaultUnits
    // r0(1) = units*3 div 4, r0(2) = units div 4; after one round:
    // node 1 gets base(1) + 85% of node 3's in-flow (r0(3) = 0) = base(1)
    r(1L) shouldBe (15L * units * 3) / (100L * 4)
    r(2L) shouldBe (15L * units * 1) / (100L * 4)
    // uniform explicit weights ≡ the unweighted seed path, to the unit
    val uni = Seq((1L, 1L), (2L, 1L)).toDF("node", "tw")
    tr(uni, Some("tw"), it = 3) shouldBe
      tr(Seq(1L, 2L).toDF("node"), None, it = 3)
    // scaling every weight by 11 changes nothing ((k·a) div (k·b) = a div b)
    val w31x11 = Seq((1L, 33L), (2L, 11L)).toDF("node", "tw")
    tr(w31x11, Some("tw"), it = 3) shouldBe tr(w31, Some("tw"), it = 3)
  }

  test("weighted kCore: strength-based peel (hand-computed) and w=1 equals the classic path") {
    // triangle 1-2-3 with strong ties (w=3 each) + pendant 4 tied to 1
    // with a single weak link: at k=4 the pendant peels (weighted degree
    // 1 < 4), the triangle survives (each node: 3+3 = 6 ≥ 4) — a COUNT
    // peel at k=4 would kill everything (max degree 3)
    val wEdges = Seq((1L, 2L, 3L), (2L, 3L, 3L), (1L, 3L, 3L), (1L, 4L, 1L))
      .toDF("src", "dst", "w")
    val core = GraphRank.kCore(wEdges, "src", "dst", k = 4, rounds = 3,
        weightCol = Some("w"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    core shouldBe Map(1L -> 6L, 2L -> 6L, 3L -> 6L)
    // all-ones weights reproduce the classic count peel exactly
    val ones = Seq((1L, 2L, 1L), (2L, 3L, 1L), (1L, 3L, 1L), (1L, 4L, 1L))
      .toDF("src", "dst", "w")
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2))).toSet
    rows(GraphRank.kCore(ones, "src", "dst", k = 2, rounds = 3,
      weightCol = Some("w"))) shouldBe
      rows(GraphRank.kCore(ones.select(col("src"), col("dst")), "src", "dst",
        k = 2, rounds = 3))
  }

  test("pageRankResume: 3 cold + 2 resumed iterations are bit-identical to 5 cold") {
    val pairs = (0L until 200L).map(i => i -> (i * 7 + 3) % 200)
    val edges = pairs.toDF("src", "dst")
    val cold5 = ranksOf(pairs, iters = 5)
    val warm3 = GraphRank.pageRank(edges, "src", "dst", 3)
    val resumed = GraphRank.pageRankResume(edges, "src", "dst", warm3, 2)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    resumed shouldBe cold5
  }

  test("labelPropagationResume: 2 cold + 2 resumed rounds are bit-identical to 4 cold") {
    val edges = Seq(1L -> 2L, 2L -> 3L, 3L -> 4L, 4L -> 5L, 5L -> 4L,
      2L -> 1L, 3L -> 2L, 4L -> 3L).toDF("src", "dst")
    val seeds = Seq((1L, 10L), (5L, 20L)).toDF("node", "label")
    val cold4 = lpRows(GraphRank.labelPropagation(
      edges, "src", "dst", seeds, "node", "label", iterations = 4))
    val m2 = GraphRank.labelPropagationMasses(
      edges, "src", "dst", seeds, "node", "label", iterations = 2)
    val resumed = lpRows(GraphRank.labelPropagationResume(
      edges, "src", "dst", seeds, "node", "label", m2, iterations = 2))
    resumed shouldBe cold4
    resumed.nonEmpty shouldBe true
  }

  test("staleFrontier soundness: ranks outside the hops=K-1 frontier are bit-identical after K iterations (fixed node universe)") {
    val K = 3
    val oldE = Seq(1L -> 2L, 2L -> 3L, 3L -> 4L, 4L -> 5L, 5L -> 6L, 6L -> 1L)
    val newE = oldE :+ (2L -> 4L) // chord added; node set unchanged
    val frontier = GraphRank.staleFrontier(oldE.toDF("src", "dst"),
      newE.toDF("src", "dst"), "src", "dst", hops = K - 1)
      .collect().map(_.getLong(0)).toSet
    frontier shouldBe Set(3L, 4L, 5L, 6L) // hand-computed: {3,4}+1 hop {5}+1 hop {6}
    val before = ranksOf(oldE, iters = K)
    val after = ranksOf(newE, iters = K)
    // outside the frontier: exactly equal, to the unit
    (before.keySet -- frontier).foreach { n => after(n) shouldBe before(n) }
    // and the frontier is not vacuous: the chord target really moved
    after(4L) should not be before(4L)
  }

  test("labelCommunitiesResume: 2 cold + 2 resumed rounds are bit-identical to 4 cold") {
    val pairs = (0L until 150L).map(i => i -> ((i * 13 + 5) % 150))
      .filter { case (a, b) => a != b }
    val edges = pairs.toDF("src", "dst")
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    val cold4 = rows(GraphRank.labelCommunities(edges, "src", "dst", 4))
    val c2 = GraphRank.labelCommunities(edges, "src", "dst", 2)
    rows(GraphRank.labelCommunitiesResume(edges, "src", "dst", c2, 2)) shouldBe cold4
    cold4.nonEmpty shouldBe true
  }

  test("minLabelComponents: converged labels equal the transitive-closure components; bounded rounds flag honestly") {
    // random sparse pair graph: cross-validate against the independent
    // closure implementation (Dedup.connectedComponents)
    val pairs = (0L until 120L).map(i => (i, (i * i + 7) % 120))
      .filter { case (a, b) => a != b }
    val closure = Dedup.connectedComponents(
        pairs.toDF("id1", "id2").withColumn("jaccard", lit(1.0)))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val got = GraphRank.minLabelComponents(pairs.toDF("id1", "id2"),
        "id1", "id2", rounds = 12)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2)))
    got.foreach { case (_, _, conv) => conv shouldBe true }
    got.map { case (n, c, _) => n -> c }.toMap shouldBe closure
    // a 6-chain at rounds=2 cannot settle: labels are the 2-round mins
    // and the flag says so
    val chain = Seq(10L -> 11L, 11L -> 12L, 12L -> 13L, 13L -> 14L, 14L -> 15L)
    val short = GraphRank.minLabelComponents(chain.toDF("a", "b"), "a", "b",
        rounds = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2)))
    short.foreach { case (_, _, conv) => conv shouldBe false }
    short.toSeq.map(t => t._1 -> t._2).toMap shouldBe
      Map(10L -> 10L, 11L -> 10L, 12L -> 10L, 13L -> 11L, 14L -> 12L, 15L -> 13L)
  }

  test("quotientGraph: hand-computed coarsening with intra-community mass and unlabeled passthrough") {
    // communities {1,2}→10 and {3}→30; node 4 unlabeled quotients to itself
    val edges = Seq((1L, 2L, 5L), (2L, 1L, 5L), (1L, 3L, 2L), (3L, 4L, 1L))
      .toDF("src", "dst", "w")
    val labels = Seq((1L, 10L), (2L, 10L), (3L, 30L)).toDF("node", "community")
    val got = GraphRank.quotientGraph(edges, "src", "dst", labels,
        "node", "community", weightCol = Some("w"))
      .collect().map(r => (r.getLong(0), r.getLong(1)) ->
        ((r.getLong(2), r.getLong(3)))).toMap
    got shouldBe Map(
      (10L, 10L) -> ((2L, 10L)), // intra: 1→2 and 2→1, weight 5+5
      (10L, 30L) -> ((1L, 2L)),
      (30L, 4L) -> ((1L, 1L)))   // unlabeled 4 quotients to itself
  }

  test("hopDistances: multi-source min-hop BFS (hand-computed), out-of-graph seeds drop, bound respected") {
    val edges = Seq(1L -> 2L, 2L -> 3L, 3L -> 4L, 9L -> 4L).toDF("src", "dst")
    val seeds = Seq(1L, 9L, 777L).toDF("node") // 777 not in the graph
    val got = GraphRank.hopDistances(edges, "src", "dst", seeds, maxHops = 2)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // 4 is 3 hops from seed 1 but 1 hop from seed 9: min wins
    got shouldBe Map(1L -> 0L, 9L -> 0L, 2L -> 1L, 4L -> 1L, 3L -> 2L)
    // maxHops = 0: just the present seeds
    GraphRank.hopDistances(edges, "src", "dst", seeds, maxHops = 0)
      .collect().map(_.getLong(0)).toSet shouldBe Set(1L, 9L)
  }

  test("edgeDelta: weight partials merge to the same delta as raw rows (the q119 monoid seam)") {
    val oldE = Seq((1L, 2L, 1L), (2L, 3L, 1L)).toDF("src", "dst", "w")
    val raw = Seq((1L, 2L, 1L), (1L, 2L, 1L), (3L, 4L, 1L), (1L, 2L, 1L))
    // split into two arbitrary micro-batches, pre-aggregated per batch
    def agg(rows: Seq[(Long, Long, Long)]) = rows.toDF("src", "dst", "w")
      .groupBy("src", "dst").agg(sum("w").as("w"))
    val partials = agg(raw.take(2)).unionByName(agg(raw.drop(2)))
    def rowsOf(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1)) ->
        ((Option(r.get(2)), Option(r.get(3)), r.getString(4)))).toMap
    rowsOf(GraphRank.edgeDelta(oldE, partials, "src", "dst", Some("w"))) shouldBe
      rowsOf(GraphRank.edgeDelta(oldE, raw.toDF("src", "dst", "w"),
        "src", "dst", Some("w")))
  }

  test("edgeDelta and staleFrontier are deterministic across partitionings") {
    val oldE = (0L until 300L).map(i => i -> ((i * 7 + 1) % 300, 1L + i % 3))
      .map { case (s, (d, w)) => (s, d, w) }
    val newE = (0L until 300L).map(i => i -> ((i * 7 + 1) % 300, 1L + (i + 1) % 3))
      .map { case (s, (d, w)) => (s, d, w) }
      .filter(_._1 % 13 != 0L)
    val a = GraphRank.staleFrontier(oldE.toDF("src", "dst", "w"),
      newE.toDF("src", "dst", "w"), "src", "dst", 2, Some("w"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val b = GraphRank.staleFrontier(oldE.toDF("src", "dst", "w").repartition(7),
      newE.toDF("src", "dst", "w").repartition(11), "src", "dst", 2, Some("w"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    a shouldBe b
    a.nonEmpty shouldBe true
  }

  // ---------------------------------------- r9: resume-seam closure

  test("trustRank resume: seeded warm-start is bit-identical to cold; omitting seeds is a DIFFERENT recurrence") {
    val pairs = (0L until 200L).map(i => i -> (i * 7 + 3) % 200)
    val edges = pairs.toDF("src", "dst")
    val seeds = Seq(0L, 5L, 10L, 15L, 20L).toDF("node")
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val cold5 = rows(GraphRank.trustRank(edges, "src", "dst", seeds, 5))
    val warm3 = GraphRank.trustRank(edges, "src", "dst", seeds, 3)
    // the teleport distribution is part of the recurrence: resuming with
    // the original seeds lands exactly on the cold run
    rows(GraphRank.pageRankResume(edges, "src", "dst", warm3, 2,
      seeds = Some(seeds))) shouldBe cold5
    // resuming WITHOUT seeds silently switches the teleport base to
    // uniform-over-all-nodes — provably NOT the trustRank answer (the
    // misuse the seeded parameter exists to prevent)
    rows(GraphRank.pageRankResume(edges, "src", "dst", warm3, 2)) should
      not be cold5
  }

  test("weighted trustRank resume: seedWeightCol threads through, bit-identical to cold") {
    val pairs = (0L until 150L).map(i => i -> (i * 11 + 2) % 150)
    val edges = pairs.toDF("src", "dst")
    val seeds = Seq((0L, 3L), (7L, 1L), (14L, 5L)).toDF("node", "tw")
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val cold4 = rows(GraphRank.trustRank(edges, "src", "dst", seeds, 4,
      seedWeightCol = Some("tw")))
    val warm2 = GraphRank.trustRank(edges, "src", "dst", seeds, 2,
      seedWeightCol = Some("tw"))
    rows(GraphRank.pageRankResume(edges, "src", "dst", warm2, 2,
      seeds = Some(seeds), seedWeightCol = Some("tw"))) shouldBe cold4
  }

  test("dense label resume: sparse checkpoint warm-starts the dense path, bit-identical to 4 cold rounds of either path") {
    val edges = Seq(1L -> 2L, 2L -> 3L, 3L -> 4L, 4L -> 5L, 5L -> 4L,
      2L -> 1L, 3L -> 2L, 4L -> 3L).toDF("src", "dst")
    val seeds = Seq((1L, 10L), (5L, 20L)).toDF("node", "label")
    val cold4 = lpRows(GraphRank.labelPropagation(
      edges, "src", "dst", seeds, "node", "label", iterations = 4))
    val m2 = GraphRank.labelPropagationMasses(
      edges, "src", "dst", seeds, "node", "label", iterations = 2)
    // the persisted state is the SAME sparse table either path resumes
    // from — the checkpoint format is path-independent
    val denseResumed = lpRows(GraphRank.labelPropagationDense(
      edges, "src", "dst", seeds, "node", "label", labels = Seq(10L, 20L),
      iterations = 2, initMasses = Some(m2)))
    denseResumed shouldBe cold4
    // and the routed resume entry takes the dense path here (≤ 64
    // labels), landing on the same answer as the explicit sparse resume
    val autoResumed = lpRows(GraphRank.labelPropagationAutoResume(
      edges, "src", "dst", seeds, "node", "label", m2, iterations = 2))
    autoResumed shouldBe cold4
    autoResumed shouldBe lpRows(GraphRank.labelPropagationResume(
      edges, "src", "dst", seeds, "node", "label", m2, iterations = 2))
    autoResumed.nonEmpty shouldBe true
  }

  test("labelPropagationAutoResume routes an open universe (> DenseLabelUniverseMax labels) to the capped sparse path") {
    val l = GraphRank.DenseLabelUniverseMax + 6 // 70 distinct labels
    val edges = (1 to l).map(i => i.toLong -> 1000L).toDF("src", "dst")
    val seeds = (1 to l).map(i => (i.toLong, 100L + i)).toDF("node", "label")
    val m1 = GraphRank.labelPropagationMasses(
      edges, "src", "dst", seeds, "node", "label", iterations = 1,
      maxLabelsPerNode = Some(GraphRank.DefaultLabelBeam))
    val auto = lpRows(GraphRank.labelPropagationAutoResume(
      edges, "src", "dst", seeds, "node", "label", m1, iterations = 1))
    auto shouldBe lpRows(GraphRank.labelPropagationResume(
      edges, "src", "dst", seeds, "node", "label", m1, iterations = 1,
      maxLabelsPerNode = Some(GraphRank.DefaultLabelBeam)))
    // the cap still bites on the resumed rounds
    auto(1000L)._3 shouldBe GraphRank.DefaultLabelBeam.toLong
  }

  test("staleFrontier containment holds for label propagation under NODE CHURN (seeds unchanged)") {
    // the r8 doc claimed this without a test: nodes added AND removed
    // between snapshots, seed set unchanged — label masses outside the
    // hops = K-1 frontier must be bit-identical per (node, label)
    val K = 3
    val oldE = Seq(1L -> 2L, 2L -> 3L, 3L -> 4L, 4L -> 5L, // node 5 will vanish
      8L -> 9L, 9L -> 11L, 11L -> 12L)                     // stable chain
    val newE = Seq(1L -> 2L, 2L -> 3L, 3L -> 4L,           // 4→5 removed
      2L -> 6L, 6L -> 7L,                                  // nodes 6,7 added
      8L -> 9L, 9L -> 11L, 11L -> 12L)
    val seeds = Seq((1L, 10L), (8L, 20L)).toDF("node", "label")
    val frontier = GraphRank.staleFrontier(oldE.toDF("src", "dst"),
      newE.toDF("src", "dst"), "src", "dst", hops = K - 1)
      .collect().map(_.getLong(0)).toSet
    // changed = {4→5 removed, 2→6 added, 6→7 added}: hop 0 = dsts
    // {5,6,7} ∪ new-graph out-neighbors of changed srcs {2,4,6} = {3,6,7}
    // → {3,5,6,7}; +1 hop adds 4; +1 hop adds nothing
    frontier shouldBe Set(3L, 4L, 5L, 6L, 7L)
    def masses(e: Seq[(Long, Long)]) = GraphRank.labelPropagationMasses(
        e.toDF("src", "dst"), "src", "dst", seeds, "node", "label",
        iterations = K)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    val before = masses(oldE)
    val after = masses(newE)
    // outside the frontier: identical sparse rows, to the unit —
    // including identical ABSENCE (no phantom rows appear or vanish)
    val outside = (k: ((Long, Long), Long)) => !frontier.contains(k._1._1)
    before.filter(outside) shouldBe after.filter(outside)
    // the outside set is not vacuous and spans both label chains
    before.keys.filter(k => !frontier.contains(k._1)).map(_._1).toSet should
      contain allOf (2L, 9L, 11L)
    // and the frontier is not vacuous either: node 3's mass really moved
    // (its in-neighbor 2 halved its out-share when 2→6 appeared)
    after((3L, 10L)) should not be before((3L, 10L))
  }
}
