package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.io.Tables
import graft.queries.GraftQuery

/** Iterative graph analytics over graphs derived from the warehouse.
  *
  * Eight of the ten entries (g01, g04, g06–g10) read ONE graph, the
  * customer↔supplier trading graph: customer and supplier nodes
  * (namespaced even/odd ids), one edge per DISTINCT (customer, supplier)
  * trading pair from orders⋈lineitem, materialized in both directions so
  * every node has in- and out-degree ≥ 1 (no dangling-mass term, no
  * join back to the node set for zero-in-degree nodes). The family's
  * pieces are each written once, in the plans and in the oracle SQL:
  *  - the graph: [[tradeEdges]] / `tradeEdgesSql`, persisted
  *    hash-partitioned by `src` ([[bySrc]]) for g04 and g07–g10;
  *  - the vocabulary: the `kind` column ([[kind]] / `kindSql`) and the
  *    seed suppliers ([[isSeed]] / `seedSql`) of g04, g06 and g10;
  *  - the rank walk of g01 and g06 ([[rankWalk]] / `rankWalkSql`), one
  *    walk whose teleport set is a predicate;
  *  - the fixed-round loop ([[iterate]]) of g01, g03, g06–g09, and the
  *    frontier loop ([[frontierLoop]]) of g04 and g10;
  *  - the settings, named constants both the plans and the oracles read.
  *
  * Determinism across engines is the design constraint: every value is
  * an integer (ranks are BIGINTs in 1e-12 units of total mass, `div`
  * floor division per edge BEFORE the sum — an integer sum is
  * order-independent where a double sum is not), so each fixed-round
  * entry replays bit-exactly in DuckDB as unrolled CTEs (`//`) and
  * carries a full hash oracle — the same integers-not-floats rule the
  * rest of the catalog follows (t12/t16).
  *
  * Scale shape (the d05 connected-components discipline, Shark-style
  * iteration over cached co-partitioned data): the static edge frame is
  * persisted once and partitioned by the key every round joins on; each
  * round is one join of that frame to the N-row state vector (only the
  * vector moves) and one map-side-combined aggregate; each round ends
  * in an eager localCheckpoint so the iterative plan stays constant-size
  * instead of doubling per round.
  */
object GraphOps {

  /** Total rank mass in scaled units (1e12 ≪ 2^63/N for any realistic
    * node count; per-node quotients stay exact BIGINTs). */
  val Scale = 1000000000000L

  // The family's settings. Declared BEFORE [[all]]: the oracle SQL and
  // the descriptions interpolate them at object-init time.
  /** g01/g06 rank iterations. */
  val RankIters = 5
  /** g03 pointer-doubling rounds (2⁵ = 32 levels; a hint, see [[resolvePointers]]). */
  val PointerRounds = 5
  /** g07 label-propagation rounds. */
  val LabelRounds = 3
  /** g08 k-core: the degree bound and the peel rounds. */
  val KCoreK = 4
  val KCoreRounds = 3
  /** g09 KMV register size and sketch sweeps (2 sweeps = 2-hop balls). */
  val KmvK = 32
  val KmvRounds = 2
  /** g04's round cap: a frontier still live after this many rounds fails loudly. */
  val BfsRounds = 20
  /** g10's declared distance horizon; also its round cap (min weight is 1). */
  val SsspHorizon = 300L

  /** 2^52, the value range of a KMV hash (13 hex chars of md5). */
  private val KmvHashSpace = 4503599627370496L

  private def tradeEdges(t: Tables): DataFrame = {
    // `pairs` is persisted (round-14, guide §2.4): the bidirectional
    // union references it twice, and every caller layers a degree
    // aggregate + join (or a repartition) on top — un-persisted, one
    // edge-frame materialization re-ran the orders⋈lineitem join and
    // its distinct shuffle up to FOUR times (exchange reuse does not
    // fire across the union arms' differing projections). Measured
    // warm: g01's edge build 1.89 s → 0.16 s with pairs cached once.
    // Tracked in InternalCaches, so the bench releases it between
    // iterations like every other internal intermediate.
    val pairs = graft.InternalCaches.track(
      t.orders
        .join(t.lineitem, col("o_orderkey") === col("l_orderkey"))
        .select((col("o_custkey") * 2).as("src"), (col("l_suppkey") * 2 + 1).as("dst"))
        .distinct()
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    pairs.unionByName(pairs.select(col("dst").as("src"), col("src").as("dst")))
  }

  /** The trading graph in oracle SQL: `pairs` holds the distinct
    * (customer, supplier) pairs, `edges` both directions. Must mirror
    * [[tradeEdges]]. */
  private def tradeEdgesSql(pairs: String, edges: String): String =
    s"""$pairs AS (
       |  SELECT DISTINCT o_custkey * 2 AS src, l_suppkey * 2 + 1 AS dst
       |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
       |$edges AS (SELECT src, dst FROM $pairs UNION SELECT dst, src FROM $pairs)""".stripMargin

  /** `edges` persisted hash-partitioned by `src` and tracked: every
    * round's join on `src` reuses the layout, so only the round's N-row
    * state vector moves. */
  private def bySrc(edges: DataFrame): DataFrame = graft.InternalCaches.track(
    edges.repartition(col("src"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))

  private def nodesOf(edges: DataFrame): DataFrame =
    edges.select(col("src").as("node")).distinct()

  /** The `kind` column of a frame keyed by `node`: suppliers are the odd ids. */
  private def kind: Column =
    when(col("node") % 2 === 1, "supplier").otherwise("customer").as("kind")

  /** [[kind]] in oracle SQL, over the node column `node`. */
  private def kindSql(node: String): String =
    s"CASE WHEN $node % 2 = 1 THEN 'supplier' ELSE 'customer' END AS kind"

  /** The seed suppliers of g04, g06 and g10 — every 4th supplier
    * (suppkey ≡ 0 mod 4), a pure expression of the node id so neither
    * engine needs a join or a side channel to agree on the seed set. */
  private def isSeed(node: Column): Column =
    node % 2 === 1 && (shiftright((node - 1).cast("long"), 1) % 4 === 0)

  /** [[isSeed]] in oracle SQL, over the node column `node`. */
  private def seedSql(node: String): String =
    s"($node % 2 = 1 AND (($node - 1) // 2) % 4 = 0)"

  /** The states of a fixed-round iteration: `start`, then `n`
    * applications of `step`, each eagerly localCheckpointed so a round's
    * plan reads the previous state's rows, not its lineage. */
  private def iterate(start: DataFrame, n: Int)(step: DataFrame => DataFrame): Seq[DataFrame] =
    (1 to n).scanLeft(start.localCheckpoint(true))((cur, _) => step(cur).localCheckpoint(true))

  /** The rank walk of g01 and g06: [[RankIters]] rounds of damped
    * (d = 85/100) integer PageRank whose teleport mass lands on the
    * nodes matching `teleport` — every node for PageRank (g01), the
    * seed suppliers for personalized PageRank (g06, "how close is this
    * node to the seed set under random traversal", the seed-relative
    * importance used for recommendation candidates and crawl frontier
    * scoring). With T the teleport set:
    * r₀ = [v∈T]·(Scale div |T|);
    * rₜ₊₁(v) = [v∈T]·(15·(Scale div |T|)) div 100
    *           + (85·Σ_{u→v} rₜ(u) div deg(u)) div 100.
    * Per round ONE join of edges to the rank vector (shuffle on src)
    * and ONE partial aggregate to dst (map-side combine — a
    * billion-in-degree hub reduces before the shuffle); the base term
    * is a pure projection of the dst id, no join. */
  private def rankWalk(t: Tables, teleport: Column => Column): DataFrame = {
    val edges = graft.InternalCaches.track {
      val e = tradeEdges(t)
      val deg = e.groupBy(col("src")).agg(count(lit(1)).as("deg"))
      // NOT broadcast on purpose (measured 3.8s → 6.3s/run if either deg
      // or the rank vector broadcasts): the shuffle join leaves the
      // persisted edges HASH-PARTITIONED BY src, so every iteration's
      // join reuses that layout and only the 16k-row rank vector moves —
      // broadcasting removes the shuffle here but forfeits the layout,
      // and then all five iteration joins shuffle the full edge set.
      e.join(deg, "src")
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    }
    val nodes = nodesOf(edges)
    val n = nodes.filter(teleport(col("node"))).count() // one count job
    require(n > 0,
      "rank walk needs a non-empty teleport set: no graph node matches " +
        "the teleport predicate (corpus too small or predicate drift)")
    val r0 = Scale / n
    val base = 15L * r0 / 100L
    val start = nodes.select(col("node"),
      when(teleport(col("node")), lit(r0)).otherwise(lit(0L)).as("r"))
    iterate(start, RankIters) { ranks =>
      edges
        .join(ranks, col("src") === col("node"))
        .select(col("dst"), expr("r div deg").as("c"))
        .groupBy(col("dst")).agg(sum(col("c")).as("t"))
        .select(col("dst").as("node"),
          (when(teleport(col("dst")), lit(base)).otherwise(lit(0L)) +
            expr("85 * t div 100")).as("r"))
    }.last
      .select(col("node").as("node_id"), kind, col("r").as("rank_scaled"))
      .orderBy(col("node_id"))
  }

  /** [[rankWalk]] in oracle SQL, unrolled [[RankIters]] times;
    * `teleport` is its teleport predicate over a node column. */
  private def rankWalkSql(teleport: String => String): String = {
    def iter(i: Int): String =
      s"""r$i AS (
         |  SELECT n.node,
         |         CASE WHEN ${teleport("n.node")}
         |              THEN (SELECT (15 * ($Scale // count(*))) // 100 FROM teleport)
         |              ELSE 0 END
         |           + (85 * coalesce(s.t, 0)) // 100 AS r
         |  FROM nodes n LEFT JOIN (
         |    SELECT e.dst AS node, sum(r${i - 1}.r // e.deg) AS t
         |    FROM edges e JOIN r${i - 1} ON e.src = r${i - 1}.node
         |    GROUP BY e.dst) s USING (node))""".stripMargin
    s"""WITH ${tradeEdgesSql("e0", "eraw")},
       |deg AS (SELECT src, count(*) AS deg FROM eraw GROUP BY src),
       |edges AS (SELECT eraw.src, eraw.dst, deg.deg FROM eraw JOIN deg USING (src)),
       |nodes AS (SELECT DISTINCT src AS node FROM eraw),
       |teleport AS (SELECT node FROM nodes WHERE ${teleport("node")}),
       |r0 AS (
       |  SELECT node,
       |         CASE WHEN ${teleport("node")}
       |              THEN (SELECT $Scale // count(*) FROM teleport) ELSE 0 END AS r
       |  FROM nodes),
       |${(1 to RankIters).map(iter).mkString(",\n")}
       |SELECT node AS node_id, ${kindSql("node")},
       |       CAST(r AS BIGINT) AS rank_scaled -- sum() upcasts to HUGEINT -> float64 in pandas
       |FROM r$RankIters
       |ORDER BY node_id""".stripMargin
  }

  /** g01: PageRank, the representative fixed-point computation
    * (link-quality weighting of a crawl corpus is the training-data
    * pipeline use) — [[rankWalk]] teleporting to every node. */
  def pageRank(t: Tables): DataFrame = rankWalk(t, _ => lit(true))

  /** g06: personalized PageRank — [[rankWalk]] teleporting to the seeds. */
  def personalizedPageRank(t: Tables): DataFrame = rankWalk(t, isSeed)

  /** Per-node triangle counts over the part co-purchase graph (distinct
    * part pairs sharing an order, both line quantities ≥ 25 — the
    * "bought together in volume" graph; ~325k edges / 232k triangles at
    * sf0.1).
    *
    * The algorithm is the degree-ordered orientation of Suri & Vassilvitskii
    * ("Counting Triangles and the Curse of the Last Reducer", WWW 2011):
    * orient every undirected edge from its lower (degree, id) endpoint to
    * the higher, so each triangle {x<y<z} is found EXACTLY once as the
    * wedge (x→y, x→z) closed by the edge y→z. Orientation bounds
    * out-degree by O(√m) — the total wedge count is O(m^1.5) worst case
    * instead of Σdeg² (a celebrity part with degree 10⁶ would otherwise
    * generate 10¹² wedges from one node; oriented it generates at most
    * ~√(2m)). No caps or sampling needed: the bound is structural.
    *
    * Shape at scale: build edges (one distinct shuffle), degrees (one
    * partial agg), orient (two broadcast-or-shuffle joins against the
    * small degree table), persist the oriented edge set (reused three
    * times: both wedge sides + closure probe), wedge self-join on the
    * source node (one shuffle on s), closure equi-join on (b, c) (one
    * shuffle). Everything is an equi-join — no BNLJ anywhere — and the
    * whole computation is exact integers → full DuckDB oracle. */
  def triangleCounts(t: Tables): DataFrame = {
    val li = t.lineitem.where(col("l_quantity") >= 25)
      .select(col("l_orderkey"), col("l_partkey"))
    val e0 = li.as("a")
      .join(li.as("b"), col("a.l_orderkey") === col("b.l_orderkey") &&
        col("a.l_partkey") < col("b.l_partkey"))
      .select(col("a.l_partkey").as("u"), col("b.l_partkey").as("v"))
      .distinct()
    trianglesFromEdges(e0)
  }

  /** Core of [[triangleCounts]]: per-node triangle counts from a distinct
    * undirected edge set (`u` < `v`, one row per edge). */
  def trianglesFromEdges(e0raw: DataFrame): DataFrame = {
    // e0 persisted (round-14, guide §2.4): the degree aggregate references
    // it twice (both union arms) and the orientation join a third time —
    // for g02 that re-ran the lineitem co-purchase self-join + distinct
    // three times per materialization. Tracked for inter-iteration release.
    val e0 = graft.InternalCaches.track(
      e0raw.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    val deg = e0.select(col("u").as("node"))
      .unionAll(e0.select(col("v").as("node")))
      .groupBy(col("node")).agg(count(lit(1)).as("d"))
    val uLower = struct(col("du.d"), col("u")) < struct(col("dv.d"), col("v"))
    val oriented = graft.InternalCaches.track {
      e0.join(deg.as("du"), col("u") === col("du.node"))
        .join(deg.as("dv"), col("v") === col("dv.node"))
        .select(when(uLower, col("u")).otherwise(col("v")).as("s"),
          when(uLower, col("v")).otherwise(col("u")).as("t"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    }
    val wedges = oriented.as("e1")
      .join(oriented.as("e2"),
        col("e1.s") === col("e2.s") && col("e1.t") < col("e2.t"))
      .select(col("e1.s").as("a"), col("e1.t").as("b"), col("e2.t").as("c"))
    // the wedge's outer pair is ordered by node id, the closing edge by
    // (degree, id) — probing both directions of the oriented set matches
    // each closed wedge exactly once
    val closing = oriented.select(col("s").as("b"), col("t").as("c"))
      .unionAll(oriented.select(col("t").as("b"), col("s").as("c")))
    wedges.join(closing, Seq("b", "c"))
      .select(explode(array(col("a"), col("b"), col("c"))).as("node_id"))
      .groupBy(col("node_id")).agg(count(lit(1)).as("n_triangles"))
      .orderBy(col("node_id"))
  }

  /** Hierarchy resolution by POINTER DOUBLING — the engine's answer to
    * the recursive CTE Spark does not have. A synthetic management
    * forest over customers (roots 1..8; parent(c) = c div 2 otherwise)
    * stands in for any parent-pointer table; each node must learn its
    * ROOT, its DEPTH, and its subtree's rolled-up account balance.
    *
    * The naive loop walks one parent edge per round — O(max depth)
    * shuffles, a non-starter for a million-deep chain. Pointer doubling
    * composes the link table with ITSELF each round ((node → anc, d)
    * ∘ (anc → anc', d') = (node → anc', d + d')), so covered distance
    * doubles per round: O(log depth) self-joins resolve ANY depth — 5
    * rounds here cover 2⁵ = 32 levels, deeper than a 4-billion-node
    * binary tree. Root links are fixed points ((root → root, 0)), so
    * resolved nodes pass through later rounds unchanged. Same iterative
    * discipline as g01/d05: per-round localCheckpoint keeps the plan
    * flat; every join is an equi-join on the ancestor key.
    *
    * All-integer (depths; balances in floor-cents) → the full fixed
    * point carries a DuckDB `WITH RECURSIVE` oracle — the two engines
    * compute the same closure by entirely different algorithms. */
  def hierarchyResolve(t: Tables): DataFrame = {
    val nodes = t.customer.select(col("c_custkey").as("node"),
      floor(col("c_acctbal") * 100).cast("long").as("bal_cents"))
    val links0 = nodes.select(col("node"),
      when(col("node") <= 8, col("node")).otherwise(expr("node div 2")).as("anc"),
      when(col("node") <= 8, 0L).otherwise(1L).as("d"))
    val links = resolvePointers(links0, PointerRounds)
    val totals = links.join(nodes, "node")
      .groupBy(col("anc")).agg(sum(col("bal_cents")).as("root_total_bal_cents"))
    links
      .join(broadcast(totals), "anc")
      .select(col("node").as("node_id"), col("anc").as("root_id"),
        col("d").as("depth"), col("root_total_bal_cents"))
      .orderBy(col("node_id"))
  }

  /** Pointer-doubling core: `links0` is one row per node —
    * (node, parent-or-self, 1-or-0) — a functional link table (exactly
    * one ancestor pointer per node, roots self-looped at distance 0).
    * Each round composes the table with itself, doubling the covered
    * distance; `rounds` rounds resolve any forest of depth ≤ 2^rounds
    * while keeping exactly one row per node throughout.
    *
    * Convergence guard: `rounds` is a HINT, not a correctness
    * precondition. After the hinted rounds one anti-join count checks the
    * fixed point (every `anc` must be a root, i.e. a self-looped node);
    * if any pointer is still mid-tree the loop keeps doubling — a deeper
    * forest costs extra rounds, never a silently wrong `anc` (the round-4
    * advisory's failure mode). Termination: in a valid forest every extra
    * round STRICTLY shrinks the unresolved set — an unresolved node at
    * depth D > 2^k has an ancestor at every depth below it, so depths in
    * (2^k, min(D, 2^(k+1))] exist and resolve that round — so a round
    * with no progress proves a cycle with no self-looped root (no fixed
    * point exists) and fails loudly after ONE wasted round instead of
    * spinning; the 62-round cap (a chain deeper than 2⁶²) is an
    * unreachable backstop. */
  def resolvePointers(links0: DataFrame, rounds: Int): DataFrame = {
    val MaxRounds = 62
    def double(links: DataFrame): DataFrame = links.as("a")
      .join(links.as("b"), col("a.anc") === col("b.node"))
      .select(col("a.node"), col("b.anc"), (col("a.d") + col("b.d")).as("d"))
    var links = iterate(links0, rounds)(double).last
    // A pointer is resolved iff its anc is a TRUE root: self-looped AT
    // DISTANCE 0. The d=0 guard matters — doubling collapses a cycle of
    // even length into self-loops with d>0 (1→2→1 becomes 1→1 at d=2),
    // which would otherwise masquerade as roots.
    def unresolved(): Long = {
      val roots = links.where(col("node") === col("anc") && col("d") === 0)
        .select(col("node").as("root"))
      links.join(roots, col("anc") === col("root"), "left_anti").count()
    }
    var round = rounds
    var pending = unresolved()
    var prev = Long.MaxValue
    while (pending > 0 && pending < prev && round < MaxRounds) {
      prev = pending
      links = double(links).localCheckpoint(true)
      round += 1; pending = unresolved()
    }
    if (pending > 0)
      throw new IllegalStateException(
        s"resolvePointers: $pending pointers unresolved after $round rounds " +
          "with no further progress — the link table has a cycle with no " +
          "self-looped root")
    links
  }

  /** Frontier (DELTA) iteration shared by g04 and g10: `dist` starts as
    * the `sources` at distance 0; each round `relax(dist, frontier)`
    * yields the (node, dist) rows that are new or shorter, `merge(dist,
    * fresh)` folds them in, and only they re-expand next round — visited
    * nodes never re-enter the join. Termination is exact: the loop ends
    * when a round yields nothing; a frontier still live after
    * `maxRounds` rounds is a loud failure instead of an endless loop or
    * a silently cut answer. Every state is localCheckpoint-frozen, so
    * lineage does not grow with rounds. */
  private def frontierLoop(what: String, sources: DataFrame, maxRounds: Int)(
      relax: (DataFrame, DataFrame) => DataFrame)(
      merge: (DataFrame, DataFrame) => DataFrame): DataFrame = {
    var dist = sources.select(col("node"), lit(0L).as("dist")).localCheckpoint(true)
    var frontier = dist
    var round = 0
    var converged = false
    while (!converged && round < maxRounds) {
      round += 1
      val fresh = relax(dist, frontier).localCheckpoint(true)
      if (fresh.isEmpty) converged = true
      else {
        dist = merge(dist, fresh).localCheckpoint(true)
        frontier = fresh
      }
    }
    if (!converged)
      throw new IllegalStateException(
        s"$what: frontier still live after $maxRounds rounds — the graph's " +
          "eccentricity from the sources exceeds the round cap")
    dist
  }

  /** g04/g10 output: every graph node with its `kind` and its distance
    * (`-1` = not reached) under the name `distCol`. */
  private def distanceTable(nodes: DataFrame, dist: DataFrame, distCol: String): DataFrame =
    nodes.join(dist, Seq("node"), "left")
      .select(col("node").as("node_id"), kind, coalesce(col("dist"), lit(-1L)).as(distCol))
      .orderBy(col("node_id"))

  /** g04/g10 oracle: a bounded recursive walk from the seed suppliers
    * over `eraw` — `step` is an arrival's distance, `bound` the walk's
    * horizon — min per node, every node reported (-1 = not reached). A
    * UNION-deduped level walk is a different algorithm from the frontier
    * loop and must agree bit-for-bit. */
  private def seedWalkSql(step: String, bound: String, distCol: String): String =
    s"""nodes AS (SELECT DISTINCT src AS node FROM eraw),
       |sources AS (SELECT node FROM nodes WHERE ${seedSql("node")}),
       |walk AS (
       |  SELECT node, CAST(0 AS BIGINT) AS dist FROM sources
       |  UNION
       |  SELECT e.dst AS node, $step AS dist
       |  FROM walk w JOIN eraw e ON e.src = w.node
       |  WHERE $bound),
       |d AS (SELECT node, min(dist) AS dist FROM walk GROUP BY node)
       |SELECT n.node AS node_id, ${kindSql("n.node")},
       |       CAST(coalesce(d.dist, -1) AS BIGINT) AS $distCol
       |FROM nodes n LEFT JOIN d USING (node)
       |ORDER BY node_id""".stripMargin

  /** g04: multi-source BFS hop distances from the seed suppliers over
    * the trading graph — the "blast radius" primitive (how far is every
    * entity from a seed set: compromised suppliers, recalled parts, a
    * marketing cohort). Rounds = eccentricity of the seed set (~6 on
    * this near-bipartite graph). */
  def bfsDistances(t: Tables): DataFrame = {
    val edges = bySrc(tradeEdges(t))
    val nodes = nodesOf(edges)
    distanceTable(nodes, bfsHops(edges, nodes.filter(isSeed(col("node")))), "dist")
  }

  /** g04's [[frontierLoop]] over a graph given as frames — `edges`
    * (src, dst), `sources` (node) — returning (node, dist) for every
    * reached node. Each round is ONE shuffle-join of the frontier to the
    * edges + ONE map-side-combined min over arrivals + ONE anti-join of
    * the known set, so the frontier stays minimal; at most [[BfsRounds]]
    * rounds. */
  def bfsHops(edges: DataFrame, sources: DataFrame): DataFrame =
    frontierLoop("bfsHops", sources, BfsRounds) { (dist, frontier) =>
      edges
        .join(frontier.withColumnRenamed("node", "src"), "src")
        .select(col("dst").as("node"), (col("dist") + 1L).as("dist"))
        .groupBy(col("node")).agg(min(col("dist")).as("dist"))
        .join(dist.select(col("node")), Seq("node"), "left_anti")
    }(_.unionByName(_))

  /** g10: WEIGHTED shortest paths from the seed suppliers — g04's BFS
    * measures hops; the business question is usually weighted ("how
    * close is this supplier through STRONG trading relationships").
    * Edge weight is derived from relationship intensity: w = max(1, 100
    * div n_txn) for n_txn lineitems between the pair — heavy trading ⇒
    * short edge; exact integer arithmetic so every relaxation replays in
    * SQL.
    *
    * Algorithm: distributed Bellman-Ford on the [[frontierLoop]] — only
    * nodes whose tentative distance IMPROVED re-expand next round (unlike
    * BFS a settled node can re-enter the frontier when a shorter
    * many-hop path arrives later), so a round joins arrivals to the dist
    * table to find improvements, and the dist table updates by anti-join
    * + union of the improved rows. One exchange per round (the
    * frontier⋈edges arrival agg).
    *
    * [[SsspHorizon]] is a DECLARED horizon, part of the semantics:
    * arrivals beyond it are pruned in-flight (bounding both the frontier
    * and the oracle's recursive walk state), and nodes beyond it report
    * -1 alongside the genuinely unreachable. It is also the round cap:
    * every improvement strictly lowers an integer distance by at least
    * the minimum weight 1, so the improved set empties within
    * SsspHorizon rounds. */
  def weightedSssp(t: Tables): DataFrame = {
    val pairs = t.orders
      .join(t.lineitem, col("o_orderkey") === col("l_orderkey"))
      .groupBy((col("o_custkey") * 2).as("src"),
        (col("l_suppkey") * 2 + 1).as("dst"))
      .agg(count(lit(1)).as("n"))
    val half = pairs.select(col("src"), col("dst"),
      greatest(lit(1L), expr("100 DIV n")).as("w"))
    val edges = bySrc(
      half.unionByName(half.select(col("dst").as("src"), col("src").as("dst"), col("w"))))
    val nodes = nodesOf(edges)
    val dist = frontierLoop("weightedSssp", nodes.filter(isSeed(col("node"))),
        SsspHorizon.toInt) { (dist, frontier) =>
      edges
        .join(frontier.withColumnRenamed("node", "src"), "src")
        .select(col("dst").as("node"), (col("dist") + col("w")).as("cand"))
        .groupBy(col("node")).agg(min(col("cand")).as("cand"))
        .filter(col("cand") <= SsspHorizon)
        .join(dist.withColumnRenamed("dist", "cur"), Seq("node"), "left")
        .filter(col("cur").isNull || col("cand") < col("cur"))
        .select(col("node"), col("cand").as("dist"))
    } { (dist, improved) =>
      dist.join(improved.select(col("node")), Seq("node"), "left_anti").unionByName(improved)
    }
    distanceTable(nodes, dist, "wdist")
  }

  /** g05's supplier-hub cap: common-neighbor evidence through a
    * supplier trading with more customers than this is discounted to
    * zero outright (its 1/ln(deg) weight is already near-noise) and,
    * structurally, the candidate fan-out through it is skipped —
    * bounding per-query-node work by deg(a)·cap at any corpus size.
    * Inactive at the test SFs (max supplier degree ≈ 500 at sf0.1);
    * exercised by GraphSpec at a synthetic cap of 3. Declared BEFORE
    * [[all]]: the oracle SQL interpolates it at object-init time.
    */
  val LinkHubCap = 1000L

  /** g05 body (see the catalog entry's doc); `hubCap` is a parameter so
    * the spec can exercise the hub-exclusion path on test-scale data. */
  def linkPrediction(t: Tables, hubCap: Long = LinkHubCap): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // persisted: the distinct pair table feeds THREE consumers (degree
    // dimension, query edge set, candidate side) — without the barrier
    // Catalyst recomputes the orders⋈lineitem distinct per consumer
    val pairs = graft.InternalCaches.track(
      t.orders
        .join(t.lineitem, col("o_orderkey") === col("l_orderkey"))
        .select(col("o_custkey").as("cust"), col("l_suppkey").as("supp"))
        .distinct()
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    val inv = pairs.groupBy(col("supp")).agg(count(lit(1)).as("deg"))
      .filter(col("deg") >= 2 && col("deg") <= hubCap)
      .select(col("supp"),
        round(lit(1000000.0) / log(col("deg").cast("double")))
          .cast("long").as("inv_e6"))
    val q = pairs.filter(col("cust") % 75 === 0)
      .select(col("cust").as("a"), col("supp"))
    // No broadcast() hints here: `q` is 1/75 of the distinct pair table
    // and `inv` is supplier-dimension-sized — both LINEAR in corpus size,
    // so a forced hint would pin driver materialization and OOM at 100×.
    // At test SFs AQE's runtime size stats convert both joins to
    // broadcast-hash anyway (PlanShapeSpec asserts this); past the
    // auto-threshold they degrade to shuffle-hash on `supp` with no
    // semantic change — the size-adaptive plan the scale doc claims.
    val scored = pairs.select(col("cust").as("b"), col("supp"))
      .join(q, Seq("supp"))
      .filter(col("a") =!= col("b"))
      .join(inv, Seq("supp"))
      .groupBy(col("a"), col("b"))
      .agg(count(lit(1)).as("n_common"), sum(col("inv_e6")).as("aa_e6"))
    scored
      .withColumn("rk", row_number().over(
        Window.partitionBy(col("a")).orderBy(col("aa_e6").desc, col("b"))))
      .filter(col("rk") <= 10)
      .select(col("a").as("cust_a"), col("b").as("cust_b"),
        col("n_common"), col("aa_e6"), col("rk").cast("long").as("rk"))
      .orderBy(col("cust_a"), col("rk"))
  }

  /** Fixed-round synchronous LABEL PROPAGATION communities (Raghavan et
    * al. 2007) over the trading graph — the cheap community detector a
    * corpus team runs to group crawl domains / trading counterparties
    * before per-community sampling caps. Deterministic by construction
    * where textbook LPA is not: votes are counted synchronously from
    * the previous round's labels (async LPA depends on visit order),
    * every node also votes for its OWN current label once (which damps
    * the 2-cycle oscillation pure synchronous LPA exhibits on bipartite
    * graphs — and this customer↔supplier graph IS bipartite), and the
    * argmax tie-break is total (count desc, then min label). A fixed
    * round count ([[LabelRounds]]) replaces the convergence loop so the
    * oracle unrolls to plain CTEs.
    *
    * l₀(v) = v;  lₜ₊₁(v) = argmax_{l} |{u→v : lₜ(u)=l}| + [lₜ(v)=l],
    * ties → smaller l.
    *
    * Scale shape: each round's join moves only the N-row label vector
    * ([[bySrc]]); the mode-vote is two hash aggregates — (node, lbl)
    * counts then the per-node argmax as a map-side-combinable
    * min(struct(-c, lbl)), NOT a window, so a hub node's vote list never
    * sorts in one task. */
  def labelPropagation(t: Tables): DataFrame = {
    val edges = bySrc(tradeEdges(t))
    val labels = iterate(nodesOf(edges).select(col("node"), col("node").as("lbl")),
        LabelRounds) { labels =>
      val votes = edges.join(labels, col("src") === col("node"))
        .select(col("dst").as("n"), col("lbl"))
        .unionByName(labels.select(col("node").as("n"), col("lbl")))
      // ONE exchange per round instead of two (round 15, §2.4): hash(n)
      // satisfies both aggregates' clustering ((n, lbl) then (n)), so
      // repartitioning the votes by n up front removes the second
      // per-round shuffle of the (n, lbl, c) counts. The trade: the
      // vote rows cross un-combined (no map-side (n, lbl) merge before
      // the exchange) — on the DISTINCT-pair trading graph early-round
      // votes barely combine anyway, so one raw shuffle beats two.
      votes
        .repartition(col("n"))
        .groupBy(col("n"), col("lbl")).agg(count(lit(1)).as("c"))
        .groupBy(col("n"))
        .agg(min(struct((-col("c")).as("negc"), col("lbl").as("l"))).as("w"))
        .select(col("n").as("node"), col("w.l").as("lbl"))
    }.last
    val sizes = labels.groupBy(col("lbl"))
      .agg(count(lit(1)).as("community_size"))
    labels.join(sizes, Seq("lbl"))
      .select(col("node").as("node_id"), kind,
        col("lbl").as("community"), col("community_size"))
      .orderBy(col("node_id"))
  }

  /** Fixed-round K-CORE decomposition (degree peeling) over the trading
    * graph — the standard density filter a corpus/graph team runs
    * before expensive per-node work: nodes that cannot sit inside a
    * subgraph of minimum degree k are peeled, and what survives R
    * peel rounds approximates the k-core (equals it once a round is a
    * fixed point). On the trading graph it answers "which customers
    * and suppliers are embedded in a dense trading neighborhood"
    * (ie. not one-off counterparties) — the same shape as keeping only
    * well-linked crawl domains. A fixed round count R ([[KCoreRounds]],
    * k = [[KCoreK]]) replaces the until-fixpoint loop so the oracle
    * unrolls to plain CTEs; the output is TOTAL over the node set:
    * survivors carry status 'core' and their final in-core degree,
    * peeled nodes carry 'peeled' and 0.
    *
    * s₀ = V;  sₜ₊₁ = { v ∈ sₜ : |N(v) ∩ sₜ| ≥ k },
    * core_degree(v∈s_R) = |N(v) ∩ s_{R-1}|.
    *
    * Scale shape: each round is one join of the [[bySrc]] edges to the
    * (N-row) survivor vector on src — only the survivor vector moves —
    * then a map-side-combined count by dst (the edge set is
    * bidirectional, so that is each survivor-neighbor's degree) and an
    * N-row×N-row membership join (no broadcast hint: both sides are
    * corpus-proportional, AQE picks the strategy). */
  def kCore(t: Tables): DataFrame = {
    val edges = bySrc(tradeEdges(t))
    val states = iterate(nodesOf(edges), KCoreRounds) { surv =>
      edges.join(surv.select(col("node")), col("src") === col("node"))
        .groupBy(col("dst")).agg(count(lit(1)).as("deg"))
        .join(surv.select(col("node").as("m")), col("dst") === col("m"))
        .filter(col("deg") >= KCoreK)
        .select(col("dst").as("node"), col("deg"))
    }
    states.head.select(col("node"))
      .join(states.last, Seq("node"), "left")
      .select(col("node").as("node_id"), kind,
        when(col("deg").isNotNull, "core").otherwise("peeled").as("status"),
        coalesce(col("deg"), lit(0L)).as("core_degree"))
      .orderBy(col("node_id"))
  }

  /** One unrolled peel round: degree restricted to the previous
    * survivor set, kept iff ≥ k. Must mirror [[kCore]]. */
  private def kcoreOracleIter(i: Int): String =
    s"""s$i AS (
       |  SELECT e.src AS node, count(*) AS deg
       |  FROM edges e
       |  JOIN s${i - 1} p ON e.dst = p.node
       |  JOIN s${i - 1} q ON e.src = q.node
       |  GROUP BY e.src HAVING count(*) >= $KCoreK)""".stripMargin

  /** One unrolled synchronous LPA round: neighbor votes + the self-vote,
    * argmax by (count desc, label asc). Must mirror [[labelPropagation]]. */
  private def lpaOracleIter(i: Int): String =
    s"""l$i AS (
       |  SELECT node, lbl FROM (
       |    SELECT node, lbl,
       |           row_number() OVER (PARTITION BY node ORDER BY c DESC, lbl) AS rn
       |    FROM (
       |      SELECT node, lbl, count(*) AS c FROM (
       |        SELECT e.dst AS node, p.lbl AS lbl
       |        FROM edges e JOIN l${i - 1} p ON e.src = p.node
       |        UNION ALL
       |        SELECT node, lbl FROM l${i - 1}) v
       |      GROUP BY node, lbl) cnt)
       |  WHERE rn = 1)""".stripMargin

  /** One unrolled KMV sketch sweep: every node's register merged with
    * its in-neighbors' (UNION dedups members), cut to the k smallest
    * hashes. Must mirror [[hyperBallKmv]]. */
  private def kmvOracleIter(i: Int): String =
    s"""r$i AS (SELECT e.dst AS node, s.h FROM e JOIN s${i - 1} s ON s.node = e.src
       |       UNION SELECT node, h FROM s${i - 1}),
       |s$i AS (SELECT node, h, rn FROM (
       |         SELECT node, h, row_number() OVER (PARTITION BY node ORDER BY h) AS rn
       |         FROM r$i) WHERE rn <= $KmvK)""".stripMargin

  /** Neighborhood-size sketching — HyperBall (Boldi & Vigna, "In-Core
    * Computation of Geometric Centralities with HyperBall", 2013) with
    * k-minimum-values registers instead of HLL: per node, the 2-hop
    * ball size |{u : dist(v,u) ≤ 2}| estimated by iteratively merging
    * every neighbor's sketch into the node's own. The corpus-scale
    * question it answers ("how connected is this graph? what is its
    * effective diameter / reach profile?") is exactly what exact BFS
    * from every node cannot — N BFS traversals vs [[KmvRounds]] sketch
    * sweeps.
    *
    * KMV instead of HyperLogLog is the q66 lesson applied to graphs:
    * the registers are plain sorted md5-hashes, so every merge decision
    * replays in any engine (`row_number() OVER (ORDER BY h) <= k`) and
    * the entry carries a FULL value oracle where an HLL ball would be
    * rows-only (engine-specific binary). The estimator is q66's
    * (k−1)·H / h(k).
    *
    * Scale shape: one round = one join of the [[bySrc]] edge list to the
    * |V|·k sketch frame + ONE [[graft.functions.expressions.KmvMerge]]
    * aggregate — |E| register merges, the HyperBall cost, with
    * map-side partial merging collapsing any in-degree before the
    * shuffle (a row-explode formulation would instead shuffle |E|·k
    * rows through a distinct AND a bottom-k). The final degree
    * aggregate is keyed on src too. */
  def hyperBallKmv(t: Tables): DataFrame = {
    val e = bySrc(tradeEdges(t))
    val h = conv(substring(md5(col("node").cast("string")), 1, 13), 16, 10)
      .cast("long")
    val kmv = graft.functions.expressions.KmvMerge.merge(KmvK)
    val sk = iterate(nodesOf(e).select(col("node"), array(h).as("sk")), KmvRounds) { sk =>
      e.join(sk, col("src") === col("node"))
        .select(col("dst").as("node"), col("sk"))
        .unionByName(sk)
        .groupBy(col("node"))
        .agg(kmv(col("sk")).as("sk"))
    }.last
    val deg = e.groupBy(col("src")).agg(count(lit(1)).as("deg"))
      .withColumnRenamed("src", "node")
    sk.join(deg, Seq("node"))
      .select(col("node").as("node_id"), col("deg"),
        size(col("sk")).cast("long").as("b2_kmv_size"),
        when(size(col("sk")) === KmvK, element_at(col("sk"), KmvK))
          .otherwise(lit(0L)).as("b2_kth_hash"))
      .select(col("node_id"), col("deg"), col("b2_kmv_size"), col("b2_kth_hash"),
        when(col("b2_kmv_size") < KmvK, col("b2_kmv_size"))
          .otherwise(expr(s"${KmvK - 1}L * ${KmvHashSpace}L div b2_kth_hash"))
          .as("b2_est"))
      .orderBy(col("node_id"))
  }

  val all: Seq[GraftQuery] = Seq(
    GraftQuery(
      "g01_pagerank",
      s"$RankIters-iteration integer PageRank over the customer-supplier trading graph",
      (spark, dir) => pageRank(Tables(spark, dir)),
      Some(rankWalkSql(_ => "TRUE"))
    ),

    GraftQuery(
      "g02_triangle_count",
      "per-node triangle counts over the part co-purchase graph via degree-ordered orientation",
      (spark, dir) => triangleCounts(Tables(spark, dir)),
      Some(
        """WITH li AS (
          |  SELECT l_orderkey, l_partkey FROM lineitem WHERE l_quantity >= 25),
          |e0 AS (
          |  SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
          |  FROM li a JOIN li b
          |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey),
          |deg AS (
          |  SELECT node, count(*) AS d FROM (
          |    SELECT u AS node FROM e0 UNION ALL SELECT v FROM e0)
          |  GROUP BY node),
          |o AS (
          |  SELECT CASE WHEN (du.d, u) < (dv.d, v) THEN u ELSE v END AS s,
          |         CASE WHEN (du.d, u) < (dv.d, v) THEN v ELSE u END AS t
          |  FROM e0 JOIN deg du ON du.node = u JOIN deg dv ON dv.node = v),
          |w AS (
          |  SELECT e1.s AS a, e1.t AS b, e2.t AS c
          |  FROM o e1 JOIN o e2 ON e1.s = e2.s AND e1.t < e2.t),
          |closing AS (SELECT s AS b, t AS c FROM o UNION ALL SELECT t, s FROM o),
          |tri AS (SELECT a, b, c FROM w JOIN closing USING (b, c))
          |SELECT node_id, count(*) AS n_triangles
          |FROM (SELECT unnest([a, b, c]) AS node_id FROM tri)
          |GROUP BY node_id
          |ORDER BY node_id""".stripMargin)
    ),

    GraftQuery(
      "g03_hierarchy_resolve",
      "root/depth/subtree-rollup of a parent-pointer forest via pointer doubling (log-depth rounds)",
      (spark, dir) => hierarchyResolve(Tables(spark, dir)),
      Some(
        """WITH RECURSIVE walk AS (
          |  SELECT c_custkey AS node, c_custkey AS cur, 0 AS depth FROM customer
          |  UNION ALL
          |  SELECT node, cur // 2, depth + 1 FROM walk WHERE cur > 8),
          |resolved AS (
          |  SELECT node, cur AS root_id, depth FROM walk WHERE cur <= 8),
          |bal AS (
          |  SELECT c_custkey AS node,
          |         CAST(floor(c_acctbal * 100) AS BIGINT) AS bal_cents
          |  FROM customer),
          |totals AS (
          |  SELECT r.root_id, CAST(sum(b.bal_cents) AS BIGINT) AS root_total_bal_cents
          |  FROM resolved r JOIN bal b USING (node)
          |  GROUP BY r.root_id)
          |SELECT r.node AS node_id, r.root_id,
          |       CAST(r.depth AS BIGINT) AS depth, t.root_total_bal_cents
          |FROM resolved r JOIN totals t USING (root_id)
          |ORDER BY node_id""".stripMargin)
    ),

    GraftQuery(
      "g04_bfs_distance",
      "multi-source BFS hop distances from seed suppliers via frontier delta iteration",
      (spark, dir) => bfsDistances(Tables(spark, dir)),
      Some(
        s"""WITH RECURSIVE ${tradeEdgesSql("e0", "eraw")},
           |${seedWalkSql("w.dist + 1", s"w.dist < $BfsRounds", "dist")}""".stripMargin)
    ),

    // ------------------------------------------------------------------
    // g05: Adamic-Adar link prediction over the bipartite trade graph —
    // "customers most similar to customer a" scored by their shared
    // suppliers, each shared supplier s contributing 1/ln(deg(s))
    // (Adamic & Adar 2003, public paper; the standard common-neighbor
    // score with hub discounting). The float 1/ln(deg) is quantized to
    // integer micro-units ON THE SUPPLIER-DEGREE DIMENSION (t12
    // discipline), so per-pair sums are exact BIGINTs and the oracle
    // hash holds. deg-1 suppliers cannot witness a pair (their only
    // customer is `a` itself) and ln(1)=0 would divide by zero — they
    // are excluded by definition, as are hub suppliers above
    // [[LinkHubCap]] (inactive at test SFs, load-bearing at 100 TB:
    // candidate volume is bounded by |Q|·deg(a)·cap instead of a hub's
    // full neighborhood, and 1/ln(deg) already makes a mega-hub's
    // evidence negligible — the d12 hot-key-cap discipline).
    //
    // Plan shape: the |Q|·deg(a)-row query edge set BROADCASTS onto the
    // supplier-partitioned pair table (no big-side shuffle), the
    // supplier weight dimension broadcasts onto the candidates, ONE
    // map-side-combined shuffle aggregates (a,b) scores, and the top-10
    // per query node is a window over per-group candidate sets bounded
    // by deg(a)·cap. Two shuffles total (degree agg + score agg).
    GraftQuery(
      "g05_link_prediction",
      "Adamic-Adar similar-customer top-10 per query customer (shared-supplier evidence)",
      (spark, dir) => linkPrediction(Tables(spark, dir)),
      Some(
        s"""WITH pairs AS (
           |  SELECT DISTINCT o_custkey AS cust, l_suppkey AS supp
           |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
           |inv AS (
           |  SELECT supp,
           |         CAST(round(1000000.0 / ln(CAST(deg AS DOUBLE))) AS BIGINT) AS inv_e6
           |  FROM (SELECT supp, count(*) AS deg FROM pairs GROUP BY 1)
           |  WHERE deg BETWEEN 2 AND $LinkHubCap),
           |q AS (SELECT cust AS a, supp FROM pairs WHERE cust % 75 = 0),
           |scored AS (
           |  SELECT q.a, p.cust AS b, CAST(count(*) AS BIGINT) AS n_common,
           |         CAST(sum(i.inv_e6) AS BIGINT) AS aa_e6
           |  FROM q JOIN pairs p USING (supp) JOIN inv i USING (supp)
           |  WHERE p.cust <> q.a
           |  GROUP BY 1, 2),
           |rk AS (
           |  SELECT a, b, n_common, aa_e6,
           |         row_number() OVER (PARTITION BY a ORDER BY aa_e6 DESC, b) AS rk
           |  FROM scored)
           |SELECT a AS cust_a, b AS cust_b, n_common, aa_e6, CAST(rk AS BIGINT) AS rk
           |FROM rk WHERE rk <= 10
           |ORDER BY cust_a, rk""".stripMargin)
    ),

    // ------------------------------------------------------------------
    // g06: personalized PageRank from the g04 seed suppliers — see
    // [[rankWalk]]. The oracle unrolls the same integer iterations with
    // the seed-conditional base term.
    GraftQuery(
      "g06_personalized_pagerank",
      s"$RankIters-iteration integer personalized PageRank from the g04 seed suppliers",
      (spark, dir) => personalizedPageRank(Tables(spark, dir)),
      Some(rankWalkSql(seedSql))
    ),

    // ------------------------------------------------------------------
    // g07: community detection by synchronous label propagation — see
    // [[labelPropagation]]. The oracle unrolls the same mode-vote rounds
    // (count desc, label asc argmax per node).
    GraftQuery(
      "g07_community_labelprop",
      s"$LabelRounds-round deterministic label-propagation communities over the trading graph (self-vote, min-label tie-break)",
      (spark, dir) => labelPropagation(Tables(spark, dir)),
      Some(
        s"""WITH ${tradeEdgesSql("e0", "edges")},
           |l0 AS (SELECT DISTINCT src AS node, src AS lbl FROM edges),
           |${(1 to LabelRounds).map(lpaOracleIter).mkString(",\n")},
           |sz AS (SELECT lbl, CAST(count(*) AS BIGINT) AS community_size
           |       FROM l$LabelRounds GROUP BY lbl)
           |SELECT l.node AS node_id, ${kindSql("l.node")},
           |       l.lbl AS community, sz.community_size
           |FROM l$LabelRounds l JOIN sz USING (lbl)
           |ORDER BY node_id""".stripMargin)
    ),

    // ------------------------------------------------------------------
    // g09: HyperBall-with-KMV 2-hop neighborhood sizes — see
    // [[hyperBallKmv]]. The oracle unrolls the sketch sweeps: UNION
    // dedups members, row_number <= k is the register cut, and the
    // estimator is q66's.
    GraftQuery(
      "g09_hyperball_kmv",
      s"HyperBall-style 2-hop ball-size estimates per node (KMV registers k=$KmvK, fully oracled)",
      (spark, dir) => hyperBallKmv(Tables(spark, dir)),
      Some(
        s"""WITH ${tradeEdgesSql("p", "e")},
           |n AS (SELECT DISTINCT src AS node FROM e),
           |s0 AS (SELECT node,
           |         CAST('0x' || substr(md5(CAST(node AS VARCHAR)), 1, 13) AS BIGINT) AS h
           |       FROM n),
           |${(1 to KmvRounds).map(kmvOracleIter).mkString(",\n")},
           |agg AS (SELECT node, CAST(count(*) AS BIGINT) AS b2_kmv_size,
           |               CAST(coalesce(max(CASE WHEN rn = $KmvK THEN h END), 0) AS BIGINT) AS b2_kth_hash
           |        FROM s$KmvRounds GROUP BY node),
           |deg AS (SELECT src AS node, CAST(count(*) AS BIGINT) AS deg FROM e GROUP BY 1)
           |SELECT a.node AS node_id, d.deg, a.b2_kmv_size, a.b2_kth_hash,
           |       CASE WHEN a.b2_kmv_size < $KmvK THEN a.b2_kmv_size
           |            ELSE ${KmvK - 1} * $KmvHashSpace // a.b2_kth_hash END AS b2_est
           |FROM agg a JOIN deg d USING (node)
           |ORDER BY node_id""".stripMargin)
    ),

    // g08: k-core decomposition by fixed-round degree peeling — see
    // [[kCore]]. The oracle unrolls the same peel rounds
    // (HAVING count(*) >= k over the surviving subgraph).
    GraftQuery(
      "g08_kcore_peel",
      s"$KCoreRounds-round k-core peel (k=$KCoreK) over the trading graph: total core/peeled verdict with final in-core degree",
      (spark, dir) => kCore(Tables(spark, dir)),
      Some(
        s"""WITH ${tradeEdgesSql("e0", "edges")},
           |s0 AS (SELECT DISTINCT src AS node FROM edges),
           |${(1 to KCoreRounds).map(kcoreOracleIter).mkString(",\n")}
           |SELECT n.node AS node_id, ${kindSql("n.node")},
           |       CASE WHEN s$KCoreRounds.node IS NULL THEN 'peeled' ELSE 'core' END AS status,
           |       CAST(coalesce(s$KCoreRounds.deg, 0) AS BIGINT) AS core_degree
           |FROM s0 n LEFT JOIN s$KCoreRounds USING (node)
           |ORDER BY node_id""".stripMargin)
    ),

    // ------------------------------------------------------------------
    // g10: weighted shortest paths from the seed suppliers — see
    // [[weightedSssp]]. FULLY ORACLED: integer weights and integer
    // relaxations mean DuckDB's recursive walk (UNION-deduped
    // (node, dist) states, pruned at the same declared horizon) reaches
    // the identical fixed point; min-per-node reads off the answer.
    GraftQuery(
      "g10_weighted_sssp",
      s"weighted shortest paths (Bellman-Ford delta frontier, w = max(1, 100 div n_txn), horizon $SsspHorizon)",
      (spark, dir) => weightedSssp(Tables(spark, dir)),
      Some(
        s"""WITH RECURSIVE p0 AS (
           |  SELECT o_custkey * 2 AS src, l_suppkey * 2 + 1 AS dst,
           |         count(*) AS n
           |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
           |  GROUP BY 1, 2),
           |e0 AS (SELECT src, dst, greatest(1, 100 // n) AS w FROM p0),
           |eraw AS (SELECT src, dst, w FROM e0
           |         UNION ALL SELECT dst, src, w FROM e0),
           |${seedWalkSql("CAST(w.dist + e.w AS BIGINT)", s"w.dist + e.w <= $SsspHorizon", "wdist")}""".stripMargin)
    )
  )
}
