package graft

import org.apache.spark.sql.functions._

import graft.io.Tables
import graft.ops.GraphOps

/** The graph family: exact driver-side replays of each entry, plus the
  * structural properties that make each result what it claims. Each
  * test starts with nothing cached (an earlier suite in the same JVM can
  * leave the trading graph's frames cached) and releases the frames the
  * entries persisted, so none outlives it. */
class GraphSpec extends SparkSpecBase with org.scalatest.BeforeAndAfterEach {

  private def release(): Unit = {
    graft.InternalCaches.releaseAll()
    spark.catalog.clearCache()
  }
  override def beforeEach(): Unit = { super.beforeEach(); release() }
  override def afterEach(): Unit = try release() finally super.afterEach()

  test("g01: ranks equal an exact driver-side integer replay of 5 iterations") {
    val t = Tables(spark, sf0001)
    val pairs = t.orders
      .join(t.lineitem, col("o_orderkey") === col("l_orderkey"))
      .select((col("o_custkey") * 2).as("src"), (col("l_suppkey") * 2 + 1).as("dst"))
      .distinct().collect().map(r => (r.getLong(0), r.getLong(1)))
    val edges = (pairs ++ pairs.map(_.swap)).distinct
    val deg = edges.groupBy(_._1).view.mapValues(_.length.toLong).toMap
    val nodes = edges.map(_._1).distinct.sorted
    val n = nodes.length.toLong
    val r0 = GraphOps.Scale / n
    val base = 15L * r0 / 100L
    var ranks = nodes.map(_ -> r0).toMap
    (1 to 5).foreach { _ =>
      val in = edges.groupBy(_._2).view
        .mapValues(_.map { case (s, _) => ranks(s) / deg(s) }.sum).toMap
      ranks = nodes.map(v => v -> (base + 85L * in.getOrElse(v, 0L) / 100L)).toMap
    }
    val got = graft.queries.Catalog.queries("g01_pagerank")(spark, sf0001)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    assert(got.map(_._1).toSeq === nodes.toSeq, "node set")
    got.foreach { case (id, kind, r) =>
      assert(kind === (if (id % 2 == 1) "supplier" else "customer"))
      assert(r === ranks(id), s"node $id rank")
    }
    // rank mass is conserved up to the floor losses of integer division:
    // never exceeds Scale, never loses more than ~1 unit per division
    val total = got.map(_._3).sum
    assert(total <= GraphOps.Scale)
    assert(total >= GraphOps.Scale - (edges.length + 2L * n) * 6L,
      s"mass lost beyond floor bounds: $total")
    // suppliers are the high-degree side of the bipartite graph: the top
    // node by rank must be a supplier (rank concentrates on hubs)
    val top = got.maxBy(_._3)
    assert(top._2 === "supplier", s"top node $top")
  }

  /** Driver-side exact triangle enumeration from an undirected edge list
    * (u < v): for each edge, intersect the endpoints' neighbor sets. */
  private def bruteTriangles(edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val nbrs = (edges ++ edges.map(_.swap))
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val perNode = collection.mutable.Map.empty[Long, Long].withDefaultValue(0L)
    edges.foreach { case (u, v) =>
      // count each triangle once via its u<v edge and the third node w>v
      (nbrs(u) & nbrs(v)).filter(_ > v).foreach { w =>
        Seq(u, v, w).foreach(x => perNode(x) += 1L)
      }
    }
    perNode.toMap
  }

  test("g02: equals brute-force enumeration on a seeded 150-node random graph") {
    import testImplicits._
    val rnd = new scala.util.Random(42)
    val edges = (for (u <- 0L until 150L; v <- (u + 1) until 150L
      if rnd.nextDouble() < 0.08) yield (u, v)).toSeq
    val want = bruteTriangles(edges)
    assert(want.values.sum > 0, "seeded graph must contain triangles")
    val got = GraphOps.trianglesFromEdges(edges.toDF("u", "v"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === want)
  }

  test("g02: catalog entry equals brute force over the qty>=25 co-purchase graph") {
    val t = Tables(spark, sf0001)
    val li = t.lineitem.where(col("l_quantity") >= 25)
      .select(col("l_orderkey"), col("l_partkey"))
    val byOrder = li.collect().map(r => (r.getLong(0), r.getLong(1)))
      .groupBy(_._1).values
    val edges = byOrder.flatMap { rows =>
      val parts = rows.map(_._2).distinct.sorted
      for (i <- parts.indices; j <- (i + 1) until parts.length)
        yield (parts(i), parts(j))
    }.toSeq.distinct
    val want = bruteTriangles(edges).filter(_._2 > 0)
    val got = graft.queries.Catalog.queries("g02_triangle_count")(spark, sf0001)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === want)
    assert(want.values.sum % 3 === 0, "each triangle counted at all 3 nodes")
  }

  test("g03: root/depth/rollup equal a driver-side parent walk") {
    val t = Tables(spark, sf0001)
    val bal = t.customer.select(col("c_custkey"),
        floor(col("c_acctbal") * 100).cast("long"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    def walk(n: Long): (Long, Long) = { // (root, depth)
      var cur = n; var d = 0L
      while (cur > 8) { cur /= 2; d += 1 }
      (cur, d)
    }
    val resolved = bal.keys.map(n => n -> walk(n)).toMap
    val totals = resolved.toSeq.groupBy(_._2._1).view
      .mapValues(_.map { case (n, _) => bal(n) }.sum).toMap
    val got = graft.queries.Catalog.queries("g03_hierarchy_resolve")(spark, sf0001)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(got.map(_._1).toSeq === bal.keys.toSeq.sorted, "one row per node")
    got.foreach { case (n, root, depth, tot) =>
      assert((root, depth) === resolved(n), s"node $n root/depth")
      assert(tot === totals(root), s"node $n rollup")
    }
    // the forest must be deep enough that doubling actually iterates
    assert(got.map(_._3).max >= 3, "forest depth exercises the loop")
  }

  test("g04: distances equal a driver-side BFS; parity respects the bipartite graph") {
    val t = Tables(spark, sf0001)
    val edges = t.orders
      .join(t.lineitem, col("o_orderkey") === col("l_orderkey"))
      .select((col("o_custkey") * 2).as("src"), (col("l_suppkey") * 2 + 1).as("dst"))
      .distinct()
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val adj = collection.mutable.Map.empty[Long, List[Long]].withDefaultValue(Nil)
    edges.foreach { case (u, v) => adj(u) ::= v; adj(v) ::= u }
    val nodes = adj.keySet.toSet
    val sources = nodes.filter(n => n % 2 == 1 && ((n - 1) / 2) % 4 == 0)
    assert(sources.nonEmpty, "seed derivation must select at least one supplier")
    // textbook queue BFS from the whole seed set at once
    val want = collection.mutable.Map.empty[Long, Long]
    val queue = collection.mutable.Queue.empty[Long]
    sources.foreach { s => want(s) = 0L; queue += s }
    while (queue.nonEmpty) {
      val u = queue.dequeue()
      adj(u).foreach { v =>
        if (!want.contains(v)) { want(v) = want(u) + 1L; queue += v }
      }
    }
    val got = graft.queries.Catalog.queries("g04_bfs_distance")(spark, sf0001)
      .collect().map(r => (r.getAs[Long]("node_id"), r.getAs[String]("kind"),
        r.getAs[Long]("dist")))
    assert(got.map(_._1).toSet === nodes, "one row per graph node")
    got.foreach { case (n, kind, d) =>
      assert(kind === (if (n % 2 == 1) "supplier" else "customer"))
      assert(d === want.getOrElse(n, -1L), s"node $n dist")
      // suppliers sit at even hop counts from supplier seeds, customers odd
      if (d >= 0) assert(d % 2 === (if (n % 2 == 1) 0L else 1L) || d == 0L,
        s"node $n parity")
    }
    // the seed set itself must surface at dist 0
    sources.foreach(s => assert(want(s) === 0L))
    // the walk must actually iterate (eccentricity > 1) and stay within
    // the oracle's dist < 20 bound so the bounded recursive replay is exact
    val reached = got.collect { case (_, _, d) if d >= 0 => d }
    assert(reached.max > 1L && reached.max < 20L)
  }

  test("g04 core: exact hops within the round cap; a longer path fails loudly") {
    import testImplicits._
    // a bidirectional path 0 - 1 - ... - hops, walked from node 0
    def path(hops: Int) = {
      val one = (0L until hops.toLong).map(i => (i, i + 1))
      (one ++ one.map(_.swap)).toDF("src", "dst")
    }
    val source = Seq(0L).toDF("node")
    val within = GraphOps.BfsRounds - 1
    val got = GraphOps.bfsHops(path(within), source)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === (0L to within.toLong).map(i => i -> i).toMap)
    val e = intercept[IllegalStateException] {
      GraphOps.bfsHops(path(GraphOps.BfsRounds + 5), source)
    }
    assert(e.getMessage.contains("frontier still live"), e.getMessage)
  }

  test("g03 core: 9 doubling rounds resolve a 500-deep chain (log-depth, not O(depth))") {
    import testImplicits._
    // chain 0 <- 1 <- 2 <- ... <- 499: node i's parent is i-1, root 0
    val links0 = (0L until 500L)
      .map(i => (i, math.max(i - 1, 0L), if (i == 0) 0L else 1L))
      .toDF("node", "anc", "d")
    val got = GraphOps.resolvePointers(links0, rounds = 9) // 2^9 = 512 >= 499
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(got.length === 500, "exactly one row per node throughout")
    got.foreach { case (n, root, d) =>
      assert(root === 0L, s"node $n root")
      assert(d === n, s"node $n depth")
    }
  }

  test("g03 core: an underestimated rounds hint auto-extends to the fixed point") {
    import testImplicits._
    // depth-19 chain but only 2 hinted rounds (2^2 = 4 < 19): the
    // convergence guard must keep doubling instead of returning
    // mid-tree ancestors (the round-4 advisory's silent-wrong case)
    val links0 = (0L until 20L)
      .map(i => (i, math.max(i - 1, 0L), if (i == 0) 0L else 1L))
      .toDF("node", "anc", "d")
    val got = GraphOps.resolvePointers(links0, rounds = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(got.length === 20)
    got.foreach { case (n, root, d) =>
      assert(root === 0L, s"node $n root")
      assert(d === n, s"node $n depth")
    }
  }

  test("g03 core: a rootless cycle fails loudly instead of spinning or resolving wrong") {
    import testImplicits._
    // 1 -> 2 -> 1 with no self-looped root: there is NO fixed point
    val links0 = Seq((1L, 2L, 1L), (2L, 1L, 1L)).toDF("node", "anc", "d")
    val e = intercept[IllegalStateException] {
      GraphOps.resolvePointers(links0, rounds = 1)
    }
    assert(e.getMessage.contains("cycle"), e.getMessage)
  }

  test("g05: Adamic-Adar top-10 equals an exact driver-side recompute; hub cap excludes") {
    val t = Tables(spark, sf0001)
    val pairs = t.orders
      .join(t.lineitem, col("o_orderkey") === col("l_orderkey"))
      .select(col("o_custkey"), col("l_suppkey")).distinct()
      .collect().map(r => (r.getLong(0), r.getLong(1)))

    // exact recompute of the whole pipeline at a given hub cap
    def expected(cap: Long): Seq[(Long, Long, Long, Long, Long)] = {
      val bySupp = pairs.groupBy(_._2).view.mapValues(_.map(_._1).toSeq).toMap
      val inv = bySupp.collect {
        case (s, cs) if cs.length >= 2 && cs.length <= cap =>
          s -> math.round(1000000.0 / math.log(cs.length.toDouble))
      }.toMap
      val qs = pairs.map(_._1).distinct.filter(_ % 75 == 0)
      val agg = scala.collection.mutable.Map.empty[(Long, Long), (Long, Long)]
      for {
        (s, w) <- inv.toSeq
        cs = bySupp(s)
        a <- cs if qs.contains(a)
        b <- cs if b != a
      } {
        val cur = agg.getOrElse((a, b), (0L, 0L))
        agg((a, b)) = (cur._1 + 1L, cur._2 + w)
      }
      agg.toSeq.groupBy(_._1._1).toSeq.flatMap { case (a, m) =>
        m.map { case ((_, b), (c, w)) => (b, c, w) }
          .sortBy { case (b, _, w) => (-w, b) }.take(10).zipWithIndex
          .map { case ((b, c, w), i) => (a, b, c, w, i + 1L) }
      }.sortBy(r => (r._1, r._5))
    }

    val got = graft.queries.Catalog.queries("g05_link_prediction")(spark, sf0001)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
      .toSeq
    assert(got === expected(GraphOps.LinkHubCap))
    release() // the capped call persists the same pair table
    assert(got.nonEmpty && got.forall(r => r._5 >= 1 && r._5 <= 10))

    // the hub-exclusion path: at a synthetic cap of 3, real suppliers
    // (max degree far above 3 here) are dropped and the scores change —
    // and the operator still matches the recompute at that cap
    val maxDeg = pairs.groupBy(_._2).values.map(_.length).max
    assert(maxDeg > 3, s"corpus can't exercise the cap (max supplier degree $maxDeg)")
    val capped = GraphOps.linkPrediction(t, hubCap = 3L)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
      .toSeq
    assert(capped === expected(3L))
    assert(capped !== got, "cap of 3 changed nothing — hub exclusion untested")
  }

  test("g06: personalized ranks equal an exact driver-side integer replay; mass stays near seeds") {
    val t = Tables(spark, sf0001)
    val pairs = t.orders
      .join(t.lineitem, col("o_orderkey") === col("l_orderkey"))
      .select((col("o_custkey") * 2).as("src"), (col("l_suppkey") * 2 + 1).as("dst"))
      .distinct().collect().map(r => (r.getLong(0), r.getLong(1)))
    val edges = (pairs ++ pairs.map(_.swap)).distinct
    val deg = edges.groupBy(_._1).view.mapValues(_.length.toLong).toMap
    val nodes = edges.map(_._1).distinct.sorted
    def isSeed(v: Long) = v % 2 == 1 && ((v - 1) / 2) % 4 == 0
    val seeds = nodes.filter(isSeed)
    val r0 = GraphOps.Scale / seeds.length
    val base = 15L * r0 / 100L
    var ranks = nodes.map(v => v -> (if (isSeed(v)) r0 else 0L)).toMap
    (1 to 5).foreach { _ =>
      val in = edges.groupBy(_._2).view
        .mapValues(_.map { case (s, _) => ranks(s) / deg(s) }.sum).toMap
      ranks = nodes.map(v =>
        v -> ((if (isSeed(v)) base else 0L) + 85L * in.getOrElse(v, 0L) / 100L)).toMap
    }
    val got = graft.queries.Catalog.queries("g06_personalized_pagerank")(spark, sf0001)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2)))
    assert(got.map(_._1).toSeq === nodes.toSeq, "node set")
    got.foreach { case (id, kind, r) =>
      assert(kind === (if (id % 2 == 1) "supplier" else "customer"))
      assert(r === ranks(id), s"node $id rank")
    }
    // personalization: teleport mass returns to seeds, so the seed-set
    // average rank must dominate the non-seed average
    val (seedRanks, otherRanks) = got.partition(g => isSeed(g._1))
    val seedAvg = seedRanks.map(_._3).sum / seedRanks.length
    val otherAvg = otherRanks.map(_._3).sum / otherRanks.length
    assert(seedAvg > otherAvg * 2,
      s"ranks not personalized: seed avg $seedAvg vs other avg $otherAvg")
    // mass conservation up to integer floor losses
    val total = got.map(_._3).sum
    assert(total <= GraphOps.Scale)
  }

  test("g07: labels equal an exact driver-side 3-round synchronous LPA replay; communities coarsen") {
    val t = Tables(spark, sf0001)
    val pairs = t.orders
      .join(t.lineitem, col("o_orderkey") === col("l_orderkey"))
      .select((col("o_custkey") * 2).as("src"), (col("l_suppkey") * 2 + 1).as("dst"))
      .distinct().collect().map(r => (r.getLong(0), r.getLong(1)))
    val edges = (pairs ++ pairs.map(_.swap)).distinct
    val nodes = edges.map(_._1).distinct.sorted
    val inNbrs = edges.groupBy(_._2).view.mapValues(_.map(_._1)).toMap
    var lbl = nodes.map(v => v -> v).toMap
    (1 to 3).foreach { _ =>
      lbl = nodes.map { v =>
        // synchronous mode vote: in-neighbor labels plus the self-vote,
        // argmax by (count desc, label asc) — must mirror labelPropagation
        val votes = inNbrs.getOrElse(v, Array.empty[Long]).map(lbl) :+ lbl(v)
        val best = votes.groupBy(identity).toSeq
          .map { case (l, vs) => (l, vs.length) }
          .minBy { case (l, c) => (-c, l) }._1
        v -> best
      }.toMap
    }
    val got = graft.queries.Catalog.queries("g07_community_labelprop")(spark, sf0001)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
    assert(got.map(_._1).toSeq === nodes.toSeq, "node set")
    val sizes = lbl.values.groupBy(identity).view.mapValues(_.size.toLong).toMap
    got.foreach { case (id, kind, comm, cs) =>
      assert(kind === (if (id % 2 == 1) "supplier" else "customer"))
      assert(comm === lbl(id), s"node $id label")
      assert(cs === sizes(comm), s"size of community $comm")
    }
    // propagation must coarsen below one-label-per-node but the
    // bipartite self-vote damping must not collapse everything either
    val nComm = lbl.values.toSet.size
    assert(nComm > 1 && nComm < nodes.length,
      s"degenerate community structure: $nComm communities over ${nodes.length} nodes")
  }

  test("g09: KMV ball estimates track exact 2-hop ball sizes within theory bounds") {
    // exact 2-hop balls (self + neighbors + neighbors-of-neighbors),
    // driver-side at sf0.001; KMV k=32 theory puts sigma ~ 1/sqrt(31)
    // ~ 0.18 per node. Measured: mean 0.159, max 0.222 -- pinned with
    // headroom so a sketch regression (wrong dedup, wrong kth, wrong
    // estimator) fails loudly.
    val t = Tables(spark, sf0001)
    val pairs = t.orders
      .join(t.lineitem, col("o_orderkey") === col("l_orderkey"))
      .select((col("o_custkey") * 2).as("src"), (col("l_suppkey") * 2 + 1).as("dst"))
      .distinct().collect().map(r => (r.getLong(0), r.getLong(1)))
    val edges = (pairs ++ pairs.map(_.swap)).distinct
    val adj = edges.groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val exact: Map[Long, Long] = adj.map { case (v, ns) =>
      v -> (ns.flatMap(adj) ++ ns + v).size.toLong
    }
    val got = GraphOps.hyperBallKmv(t).collect()
    assert(got.length === exact.size)
    val errs = got.map { r =>
      val ex = exact(r.getAs[Long]("node_id")).toDouble
      math.abs(r.getAs[Long]("b2_est") - ex) / ex
    }
    val mean = errs.sum / errs.length
    assert(mean <= 0.20, s"mean relative error $mean above KMV k=32 theory")
    assert(errs.max <= 0.30, s"max relative error ${errs.max}")
    // registers are honest sketches: size <= k, kth hash present iff saturated
    got.foreach { r =>
      val sz = r.getAs[Long]("b2_kmv_size")
      assert(sz <= 32L)
      assert((sz == 32L) == (r.getAs[Long]("b2_kth_hash") != 0L))
    }
  }

  test("g08: verdicts equal an exact driver-side 3-round degree peel; peel is monotone and non-degenerate") {
    val t = Tables(spark, sf0001)
    val pairs = t.orders
      .join(t.lineitem, col("o_orderkey") === col("l_orderkey"))
      .select((col("o_custkey") * 2).as("src"), (col("l_suppkey") * 2 + 1).as("dst"))
      .distinct().collect().map(r => (r.getLong(0), r.getLong(1)))
    val edges = (pairs ++ pairs.map(_.swap)).distinct
    val nodes = edges.map(_._1).distinct.sorted
    val nbrs = edges.groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val k = 4
    var surv = nodes.toSet
    var lastDeg = Map.empty[Long, Int]
    val sizes = scala.collection.mutable.ArrayBuffer(surv.size)
    (1 to 3).foreach { _ =>
      // membership AND restricted degree both against the PREVIOUS round
      val deg = surv.iterator.map(v => v -> (nbrs(v) & surv).size).toMap
      surv = deg.filter(_._2 >= k).keySet
      lastDeg = deg
      sizes += surv.size
    }
    val got = graft.queries.Catalog.queries("g08_kcore_peel")(spark, sf0001)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getLong(3)))
    assert(got.map(_._1).toSeq === nodes.toSeq, "verdict must cover the whole node set")
    got.foreach { case (id, kind, status, cd) =>
      assert(kind === (if (id % 2 == 1) "supplier" else "customer"))
      assert(status === (if (surv(id)) "core" else "peeled"), s"node $id status")
      assert(cd === (if (surv(id)) lastDeg(id).toLong else 0L), s"node $id core_degree")
    }
    // the peel must remove something, keep something, and shrink monotonically
    assert(sizes.head > sizes.last, "nothing peeled — k too low for this graph")
    assert(surv.nonEmpty, "everything peeled — k too high for this graph")
    assert(sizes.sliding(2).forall(w => w(1) <= w(0)), s"survivor sizes not monotone: $sizes")
    // every core node really has >= k core neighbors in the last computed round
    surv.foreach(v => assert(lastDeg(v) >= k, s"core node $v below k"))
  }

  test("g10: weighted distances equal an exact driver-side Dijkstra under the same horizon") {
    val t = Tables(spark, sf0001)
    val half = t.orders
      .join(t.lineitem, col("o_orderkey") === col("l_orderkey"))
      .groupBy((col("o_custkey") * 2).as("src"), (col("l_suppkey") * 2 + 1).as("dst"))
      .agg(count(lit(1)).as("n"))
      .collect().map(r => (r.getLong(0), r.getLong(1), math.max(1L, 100L / r.getLong(2))))
    val adj: Map[Long, Seq[(Long, Long)]] =
      (half ++ half.map { case (s, d, w) => (d, s, w) })
        .groupBy(_._1).view.mapValues(_.map(e => (e._2, e._3)).toSeq).toMap
    val nodes = adj.keySet
    val sources = nodes.filter(n => n % 2 == 1 && ((n - 1) / 2) % 4 == 0)
    // multi-source Dijkstra, horizon 300 (the declared semantics)
    val distM = scala.collection.mutable.Map.empty[Long, Long]
    val pq = scala.collection.mutable.PriorityQueue.empty[(Long, Long)](
      Ordering.by[(Long, Long), Long](_._1).reverse)
    sources.foreach { s => distM(s) = 0L; pq.enqueue((0L, s)) }
    while (pq.nonEmpty) {
      val (d, v) = pq.dequeue()
      if (distM(v) == d)
        adj.getOrElse(v, Seq.empty[(Long, Long)]).foreach { case (u, w) =>
          val nd = d + w
          if (nd <= 300L && nd < distM.getOrElse(u, Long.MaxValue)) {
            distM(u) = nd; pq.enqueue((nd, u))
          }
        }
    }
    val got = graft.queries.Catalog.queries("g10_weighted_sssp")(spark, sf0001)
      .collect().map(r => (r.getAs[Long]("node_id"), r.getAs[Long]("wdist"))).toMap
    assert(got.keySet === nodes)
    nodes.foreach { n =>
      assert(got(n) === distM.getOrElse(n, -1L), s"node $n wdist")
    }
    // the planted structure is non-trivial: weighted order must differ
    // from hop order somewhere (otherwise g10 degenerates to g04)
    val hops = graft.queries.Catalog.queries("g04_bfs_distance")(spark, sf0001)
      .collect().map(r => (r.getLong(0), r.getAs[Long]("dist"))).toMap
    val reach = nodes.filter(n => got(n) >= 0 && hops(n) >= 0).toSeq
    assert(reach.exists(a => reach.exists(b =>
        hops(a) < hops(b) && got(a) > got(b))),
      "weighted and hop distances agree everywhere — weights are inert")
  }
}
