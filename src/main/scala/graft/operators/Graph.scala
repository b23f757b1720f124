package graft.operators

import scala.collection.mutable

import graft.{Ansi, Bounded}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

/** Graph operators over edge-list DataFrames: each algorithm behind the
  * `graph_*` queries, defined once. Edge lists are plain frames — (a, b)
  * for undirected edge sets (oriented a < b where the algorithm counts
  * triangles), (src, dst[, w]) for directed or doubled ones, and node
  * frames carry a `node` column. The registry wires fixtures into these
  * operators and keeps the oracle SQL.
  *
  * Scale posture: fixed round counts (a data-dependent frontier stays
  * oracle-checkable). A loop whose state is fixed by a dimension (the
  * nation grid's nodes and edges) folds its edge list to the driver once
  * through [[graft.Bounded]], with the dimension's size as its bound, runs
  * its rounds there in [[graft.Ansi]] arithmetic and returns a local
  * frame. A loop over data-sized edges keeps its rounds in Spark behind a
  * localCheckpoint barrier per round, and joins by broadcast only against
  * node-sized frames.
  */
object Graph {

  /** Both directions of an (a, b, …) edge list as (src, dst, …): each
    * edge once as stored and once reversed, other columns riding along.
    */
  def bothWays(e: DataFrame, src: String, dst: String): DataFrame = {
    val rest = e.columns.toSeq.filterNot(Set("a", "b")).map(col)
    e.select(col("a").as(src) +: col("b").as(dst) +: rest: _*)
      .union(e.select(col("b").as(src) +: col("a").as(dst) +: rest: _*))
  }

  /** Degree of every endpoint of an (a, b) edge list, as (`node`, deg). */
  private def degrees(e: DataFrame, node: String): DataFrame =
    e.select(col("a").as(node)).union(e.select(col("b").as(node)))
      .groupBy(col(node)).agg(count(lit(1)).as("deg"))

  /** The C(k, 2) pairs (a, b) with a before b of each row's sorted array
    * column `set`, generated map-side: posexplode + slice inside one
    * stage, no self-join.
    */
  def sortedPairs(df: DataFrame, set: String, a: String, b: String): DataFrame =
    df.select(posexplode(col(set)).as(Seq("i", a)), col(set))
      .select(col(a), explode(slice(col(set), col("i") + lit(2),
        size(col(set)) - col("i") - lit(1))).as(b))

  // Frees exactly the blocks a `localCheckpoint()` pinned: the checkpointed
  // frame's plan root is the LogicalRDD over the checkpointed RDD. Other
  // frames' checkpoints, including those of queries running concurrently
  // on the same session, stay untouched.
  private[graft] def releaseCheckpoint(df: DataFrame): Unit =
    df.queryExecution.logical match {
      case r: org.apache.spark.sql.execution.LogicalRDD => r.rdd.unpersist(blocking = true)
      case p => throw new IllegalArgumentException(
        s"not a checkpointed frame (plan root ${p.nodeName})")
    }

  // ── nation-grid loops on the driver ──────────────────────────────────

  /** Column `i` of a collected row as a node id: integral, and a null fails. */
  private def id(r: Row, i: Int): Long = r.getAs[Number](i).longValue

  /** Every row of a node frame with its `node` id, in id order; at most
    * `maxNodes` rows.
    */
  private def nodeRows(nodes: DataFrame, maxNodes: Long): Seq[(Long, Row)] = {
    val i = nodes.schema.fieldIndex("node")
    Bounded.collect(nodes, maxNodes).toSeq.map(r => id(r, i) -> r).sortBy(_._1)
  }

  /** The (src, dst, w) triples of a weighted edge list over at most
    * `maxNodes` nodes, so at most `maxNodes`² edges.
    */
  private def weighted(edges: DataFrame, maxNodes: Long): Seq[(Long, Long, Long)] =
    Bounded.collect(edges.select(col("src"), col("dst"), col("w")), maxNodes * maxNodes)
      .toSeq.map(r => (id(r, 0), id(r, 1), r.getLong(2)))

  /** A local frame with a row per node: its `keys` columns as `nodes`
    * types them, then the BIGINT `cols`, valued by `f` of the node id.
    */
  private def nodeFrame(nodes: DataFrame, ns: Seq[(Long, Row)], keys: Seq[String],
      cols: String*)(f: Long => Seq[Long]): DataFrame =
    Bounded.frame(nodes.sparkSession,
      ns.map { case (n, r) => Row.fromSeq(keys.map(r.getAs[Any]) ++ f(n)) },
      (keys.map(k => s"$k ${nodes.schema(k).dataType.sql}") ++ cols.map(_ + " BIGINT"))
        .map(_ + " NOT NULL").mkString(", "))

  /** Two damped rounds over weighted directed (src, dst, w) edges in
    * fixed-point BIGINT ranks: in(dst) = Σ_src (r(src)·w) DIV ow(src),
    * r'(node) = teleport + (85·in) DIV 100. The restart mass sits on the
    * nodes whose `seed` is 1: with M = Σ seed, a seed starts at 1e9 DIV M
    * and teleports 15e9 DIV (100·M), any other node 0. Returns the node
    * rows and the ranks after rounds 1 and 2.
    */
  private def dampedRank(edges: DataFrame, nodes: DataFrame, maxNodes: Long)(
      seed: Row => Long): (Seq[(Long, Row)], Map[Long, Long], Map[Long, Long]) = {
    val ns = nodeRows(nodes, maxNodes)
    val es = weighted(edges, maxNodes)
    val mass = ns.map(n => seed(n._2)).foldLeft(0L)(Math.addExact)
    val outw = es.groupMapReduce(_._1)(_._3)(Math.addExact)
    def seeded(r: Row, x: => Long): Long = if (seed(r) == 1L) x else 0L
    def iterate(r: Map[Long, Long]): Map[Long, Long] = {
      val in = es.filter(e => r.contains(e._1)).groupMapReduce(_._2)(
        e => Ansi.div(Math.multiplyExact(r(e._1), e._3), outw(e._1)))(Math.addExact)
      ns.map { case (n, row) =>
        n -> Math.addExact(seeded(row, Ansi.div(15000000000L, Math.multiplyExact(100L, mass))),
          Ansi.div(Math.multiplyExact(85L, in.getOrElse(n, 0L)), 100L))
      }.toMap
    }
    val r1 = iterate(
      ns.map { case (n, row) => n -> seeded(row, Ansi.div(1000000000L, mass)) }.toMap)
    (ns, r1, iterate(r1))
  }

  /** PageRank (d = 0.85, ranks scaled by 1e9) of every `node`: the
    * uniform-teleport damped rank, (node, rank_i1, rank_i2). The graph
    * has at most `maxNodes` nodes; its rounds run on the driver.
    */
  def pageRank(edges: DataFrame, nodes: DataFrame, maxNodes: Long): DataFrame = {
    val (ns, r1, r2) = dampedRank(edges, nodes, maxNodes)(_ => 1L)
    nodeFrame(nodes, ns, Seq("node"), "rank_i1", "rank_i2")(n => Seq(r1(n), r2(n)))
  }

  /** Personalized PageRank: the damped rank whose start and teleport mass
    * sit on the nodes with `seed` = 1, (node, seed, ppr_i1, ppr_i2).
    */
  def personalizedPageRank(edges: DataFrame, nodes: DataFrame, maxNodes: Long): DataFrame = {
    val (ns, r1, r2) = dampedRank(edges, nodes, maxNodes)(_.getAs[Long]("seed"))
    nodeFrame(nodes, ns, Seq("node", "seed"), "ppr_i1", "ppr_i2")(n => Seq(r1(n), r2(n)))
  }

  /** HITS over weighted directed (src, dst, w) edges: two
    * mutual-reinforcement rounds a(v) = Σ h(u)·w, h(u) = Σ a(v)·w, each
    * rescaled to max = 1e9 by an exact DECIMAL(38,0) DIV, (node,
    * authority, hub).
    */
  def hits(flows: DataFrame, nodes: DataFrame, maxNodes: Long): DataFrame = {
    val ns = nodeRows(nodes, maxNodes)
    val isNode = ns.map(_._1).toSet
    val es = weighted(flows, maxNodes).filter(e => isNode(e._1) && isNode(e._2))
    // score x on the `from` end of each edge, pushed to its `to` end: the
    // authority step runs src → dst, the hub step mirrors it
    def step(x: Map[Long, Long], from: ((Long, Long, Long)) => Long,
        to: ((Long, Long, Long)) => Long): Map[Long, Long] = {
      val pushed = es.groupMapReduce(to)(e => Math.multiplyExact(x(from(e)), e._3))(Math.addExact)
      val raw = ns.map { case (n, _) => n -> pushed.getOrElse(n, 0L) }
      lazy val mx = raw.map(_._2).max
      raw.map { case (n, v) => n -> Ansi.div(Ansi.dec38(BigInt(v) * 1000000000L), mx) }.toMap
    }
    def authority(h: Map[Long, Long]) = step(h, _._1, _._2)
    def hub(a: Map[Long, Long]) = step(a, _._2, _._1)
    val a2 = authority(hub(authority(ns.map(_._1 -> 1000000000L).toMap)))
    val h2 = hub(a2)
    nodeFrame(nodes, ns, Seq("node"), "authority", "hub")(n => Seq(a2(n), h2(n)))
  }

  // ── triangles ────────────────────────────────────────────────────────

  /** Every triangle of an oriented (a < b) edge set exactly once, as
    * (x < y < z): the two-hop self-join e(a,b) ⋈ e(b,c) closed by e(a,c).
    */
  private def triangles(edges: DataFrame): DataFrame =
    edges.alias("e1")
      .join(edges.alias("e2"), col("e1.b") === col("e2.a"))
      .join(edges.alias("e3"),
        col("e1.a") === col("e3.a") && col("e2.b") === col("e3.b"))
      .select(col("e1.a").as("x"), col("e1.b").as("y"), col("e2.b").as("z"))

  /** Triangles each node of an oriented edge set is a corner of, as
    * (node, n_triangles); nodes on no triangle are absent.
    */
  def trianglesPerNode(edges: DataFrame): DataFrame =
    triangles(edges).select(explode(array(col("x"), col("y"), col("z"))).as("node"))
      .groupBy(col("node")).agg(count(lit(1)).as("n_triangles"))

  /** Per-node clustering coefficient 2·tri / (deg·(deg−1)) of an oriented
    * edge set, with its exact BIGINT components.
    */
  def clusteringCoeff(edges: DataFrame): DataFrame =
    degrees(edges, "node").join(trianglesPerNode(edges), Seq("node"), "left")
      .select(col("node"), col("deg"),
        coalesce(col("n_triangles"), lit(0L)).as("n_triangles"),
        (lit(2L) * coalesce(col("n_triangles"), lit(0L))).as("coeff_num"),
        (col("deg") * (col("deg") - 1L)).as("coeff_den"))
      .withColumn("coeff",
        when(col("coeff_den") > 0L,
          col("coeff_num").cast("double") / col("coeff_den").cast("double"))
          .otherwise(lit(0.0d)))
      .orderBy(col("node"))

  /** DOULION triangle estimate of an (a < b) pair list with duplicates:
    * keep an edge iff md5(a:b)'s first nibble < '4' (p = 1/4), count the
    * sample's triangles exactly and scale by p⁻³ = 64.
    */
  def triangleDoulion(pairs: DataFrame): DataFrame = {
    // the coin lands BEFORE the distinct (a pure per-pair predicate keeps
    // the same set), so the full edge relation never shuffles
    val kept = pairs
      .filter(
        substring(md5(concat(col("a").cast("string"), lit(":"),
          col("b").cast("string"))), 1, 1) < "4")
      .distinct()
      .localCheckpoint() // 3-way self-join: plan the sample ONCE
    kept.agg(count(lit(1)).as("n_kept"))
      .crossJoin(broadcast(triangles(kept).agg(count(lit(1)).as("n_tri_sampled"))))
      .select(col("n_kept"), (col("n_kept") * 4L).as("est_edges"),
        col("n_tri_sampled"),
        (col("n_tri_sampled") * 64L).as("est_triangles"))
  }

  // ── communities over a weighted undirected (src, dst, w) edge list ───

  /** Two synchronous label-propagation rounds: every node starts with its
    * own id and adopts its neighbours' weighted modal label, ties to the
    * smallest (the SQL statement's `max(struct(wsum, −lbl))`); isolated
    * nodes keep theirs. The graph has at most `maxNodes` nodes; the rounds
    * run on the driver. Returns the local (node, lbl) frame.
    */
  def labelPropagation(edges: DataFrame, nodes: DataFrame, maxNodes: Long): DataFrame = {
    val ns = nodeRows(nodes, maxNodes)
    val es = weighted(edges, maxNodes)
    def round(lbl: Map[Long, Long]): Map[Long, Long] = {
      val wsum = es.filter(e => lbl.contains(e._2))
        .groupMapReduce(e => (e._1, lbl(e._2)))(_._3)(Math.addExact)
      val adopted = wsum.groupMapReduce(_._1._1) { case ((_, l), w) => (w, l) } { (x, y) =>
        if (x._1 > y._1 || (x._1 == y._1 && x._2 < y._2)) x else y
      }
      ns.map { case (n, _) => n -> adopted.get(n).fold(n)(_._2) }.toMap
    }
    val lbl = round(round(ns.map { case (n, _) => n -> n }.toMap))
    nodeFrame(nodes, ns, Seq("node"), "lbl")(n => Seq(lbl(n)))
  }

  /** Weighted modularity per community of a (node, lbl) partition: the
    * exact integer contribution W·in_c − d_c² (Q = Σ contrib / W²).
    */
  def modularity(edges: DataFrame, labels: DataFrame): DataFrame = {
    val wTotal = edges.agg(sum(col("w")).as("w_total"))
    val deg = edges.groupBy(col("src").as("node")).agg(sum(col("w")).as("deg"))
    val internal = edges
      .join(broadcast(labels.select(col("node").as("src"), col("lbl").as("la"))), "src")
      .join(broadcast(labels.select(col("node").as("dst"), col("lbl").as("lb"))), "dst")
      .filter(col("la") === col("lb"))
      .groupBy(col("la").as("community")).agg(sum(col("w")).as("internal_w"))
    labels
      .join(broadcast(deg), Seq("node"), "left")
      .select(col("lbl").as("community"), col("node"),
        coalesce(col("deg"), lit(0L)).as("deg"))
      .groupBy(col("community"))
      .agg(count(lit(1)).as("n_nodes"), sum(col("deg")).as("deg_sum"))
      .join(broadcast(internal), Seq("community"), "left")
      .crossJoin(broadcast(wTotal))
      .select(col("community"), col("n_nodes"), col("deg_sum"),
        coalesce(col("internal_w"), lit(0L)).as("internal_w"), col("w_total"),
        (col("w_total") * coalesce(col("internal_w"), lit(0L)) -
          col("deg_sum") * col("deg_sum")).as("contrib_num"))
      .orderBy(col("community"))
  }

  /** Weighted degree assortativity: the Pearson moments of endpoint
    * degrees across edges as exact DECIMAL(38,0) components (num, den1,
    * den2 unmultiplied — their product would overflow 38 digits).
    */
  def assortativity(edges: DataFrame): DataFrame = {
    val deg = edges.groupBy(col("src").as("node")).agg(sum(col("w")).as("deg"))
    val dec = "decimal(38,0)"
    edges
      .join(broadcast(deg.select(col("node").as("src"), col("deg").as("dx"))), "src")
      .join(broadcast(deg.select(col("node").as("dst"), col("deg").as("dy"))), "dst")
      .agg(sum(col("w")).as("s_w"),
        sum((col("w").cast(dec) * col("dx").cast(dec)).cast(dec)).cast(dec).as("sx"),
        sum((col("w").cast(dec) * col("dy").cast(dec)).cast(dec)).cast(dec).as("sy"),
        sum((col("w").cast(dec) * col("dx").cast(dec) * col("dx").cast(dec)).cast(dec))
          .cast(dec).as("sxx"),
        sum((col("w").cast(dec) * col("dy").cast(dec) * col("dy").cast(dec)).cast(dec))
          .cast(dec).as("syy"),
        sum((col("w").cast(dec) * col("dx").cast(dec) * col("dy").cast(dec)).cast(dec))
          .cast(dec).as("sxy"))
      .select(col("s_w"),
        // exact DECIMAL internally, string emission (see
        // agg_autocorr_lag1 — driver hashes the parquet encoding)
        (col("s_w").cast(dec) * col("sxy") - col("sx") * col("sy")).cast(dec)
          .cast("string").as("num"),
        (col("s_w").cast(dec) * col("sxx") - col("sx") * col("sx")).cast(dec)
          .cast("string").as("den1"),
        (col("s_w").cast(dec) * col("syy") - col("sy") * col("sy")).cast(dec)
          .cast("string").as("den2"),
        signum((col("s_w").cast(dec) * col("sxy") - col("sx") * col("sy"))
          .cast("double")).cast("long").as("sign"))
  }

  // ── distances ────────────────────────────────────────────────────────

  /** Harmonic centrality Σ_v 6 DIV d(u, v) over the undirected graph of
    * the BIGINT pairs in `pairs`' first two columns (any orientation,
    * repeats and self-loops allowed) on at most `maxNodes` nodes:
    * all-sources BFS bounded at 3 hops, so every finite distance is ≤ 3
    * and 6/d is an integer. One fold ([[graft.Bounded.aggregate]]) brings
    * the distinct edges to the driver and the searches run there; a
    * source that reaches nothing is absent.
    */
  def harmonicCentrality(pairs: DataFrame, maxNodes: Long): DataFrame = {
    val adj = Bounded.aggregate(pairs, maxNodes * maxNodes)(mutable.HashSet.empty[(Long, Long)])(
      (set, r) => {
        require(!r.anyNull, "harmonicCentrality: an edge has a null endpoint")
        set += (r.getLong(0) -> r.getLong(1)) += (r.getLong(1) -> r.getLong(0))
      },
      _ ++= _, _.size.toLong).groupMap(_._1)(_._2)
    val rows = adj.keys.toSeq.sorted.flatMap { src =>
      // the nodes first reached in round d are at distance d
      var seen = Set(src)
      var frontier = Set(src)
      var reached, hx6 = 0L
      for (d <- 1 to 3) {
        frontier = frontier.flatMap(adj) -- seen
        seen ++= frontier
        reached += frontier.size
        hx6 += frontier.size * (6L / d)
      }
      if (reached > 0) Some(Row(src, reached, hx6)) else None
    }
    Bounded.frame(pairs.sparkSession, rows,
      "src BIGINT NOT NULL, n_reached BIGINT NOT NULL, harmonic_x6 BIGINT NOT NULL")
  }

  /** Hops from node 0 over directed BIGINT (src, dst) edges after 3
    * synchronous relaxation rounds, (node, hops). The distinct edge set
    * must hold at most `maxEdges` pairs (node-pair bounded): one fold
    * ([[graft.Bounded.aggregate]]) brings it to the driver, where the
    * rounds run, so the operator runs one job and its rounds add no plan
    * or class.
    */
  def shortestHops(edges: DataFrame, maxEdges: Long): DataFrame = {
    val pairs = Bounded.aggregate(edges, maxEdges)(mutable.HashSet.empty[(Long, Long)])(
      (set, r) => {
        require(!r.isNullAt(0) && !r.isNullAt(1), "shortestHops: an edge has a null endpoint")
        set += (r.getLong(0) -> r.getLong(1))
      },
      _ ++= _, _.size.toLong)
    var dist = Map(0L -> 0L)
    for (_ <- 1 to 3) {
      // synchronous: every relaxation reads the previous round's set
      val relaxed = pairs.toSeq.flatMap { case (src, dst) => dist.get(src).map(h => dst -> (h + 1)) }
      dist = relaxed.foldLeft(dist) { case (d, (node, hops)) =>
        if (d.get(node).forall(_ > hops)) d + (node -> hops) else d
      }
    }
    Bounded.frame(edges.sparkSession, dist.toSeq.sorted.map { case (n, h) => Row(n, h) },
      "node BIGINT NOT NULL, hops BIGINT NOT NULL")
  }

  /** Distance histogram (d = -1: unreached) of a 4-round frontier BFS
    * from the (node, d = 0) `seeds` over an undirected (a, b) edge set
    * (each edge once): per round the nodes first reached, so a node's d
    * is the round it first appears.
    */
  def bfsDistance(e0: DataFrame, seeds: DataFrame): DataFrame = {
    // localCheckpoint per round stops lineage doubling (round 4 would
    // otherwise re-expand the edge build 2⁴ times)
    val edges = bothWays(e0, "a", "b").localCheckpoint()
    // frontier loop: `fresh` is the set of nodes FIRST reached this
    // round (d = round index); settled = union of all frontiers so
    // far, one-row-per-node by construction, so no min-agg is needed
    val seeds0 = seeds.localCheckpoint()
    var settled = Seq(seeds0)
    var frontier = seeds0
    for (_ <- 1 to 4) {
      val fresh = frontier.join(edges, frontier("node") === edges("a"))
        .select(edges("b").as("node"), (frontier("d") + 1L).as("d"))
        .distinct()
        .join(settled.reduce(_ unionByName _), Seq("node"), "left_anti")
        .localCheckpoint()
      settled = settled :+ fresh
      frontier = fresh
    }
    val dist = settled.reduce(_ unionByName _)
    val nodes = edges.select(col("a").as("node"))
      .union(seeds.select(col("node"))).distinct()
    nodes.join(dist, Seq("node"), "left")
      .select(col("node"), coalesce(col("d"), lit(-1L)).as("d"))
      .groupBy(col("d"))
      .agg(count(lit(1)).as("n_nodes"),
        min(col("node")).as("min_node"), max(col("node")).as("max_node"))
      .orderBy(col("d"))
  }

  // ── bipartite graphs ─────────────────────────────────────────────────

  /** k-core peel (k = 3, 3 fixed rounds) of an undirected (a, b) edge set
    * (each edge once): the surviving (src, degree).
    */
  def kcorePeel(e0: DataFrame): DataFrame = {
    // localCheckpoint per round: each round references `edges` three
    // times (degree count + two semi-join branches), so without a
    // barrier round 3's plan re-evaluates the edge build 3³ times —
    // measured 6.7 s at sf0.1 vs ~1 s checkpointed.
    var edges = bothWays(e0, "src", "dst").localCheckpoint()
    for (_ <- 1 to 3) {
      val alive = edges.groupBy(col("src")).agg(count(lit(1)).as("deg"))
        .filter(col("deg") >= 3).select(col("src").as("node"))
      edges = edges
        .join(alive.select(col("node").as("src")), Seq("src"), "left_semi")
        .join(alive.select(col("node").as("dst")), Seq("dst"), "left_semi")
        .select(col("src"), col("dst"))
        .localCheckpoint()
    }
    edges.groupBy(col("src")).agg(count(lit(1)).as("degree"))
  }

  /** Neighbour-set Jaccard between the `supp` ends of a (cust, supp)
    * edge list, over custs with ≤ 64 distinct supps; pairs with
    * jaccard ≥ 0.25 as (s1, s2, shared, d1, d2, jaccard).
    */
  def neighborJaccard(pairs: DataFrame): DataFrame = {
    // one collect_set per cust dedups the edges, its size is the cust
    // degree, and the sorted array emits its pairs map-side; the
    // checkpoint pins ≤|cust| array rows, not the |E|-row edge list
    val grp = pairs
      .groupBy(col("cust")).agg(sort_array(collect_set(col("supp"))).as("ss"))
      .filter(size(col("ss")) <= 64)
      .localCheckpoint()
    val deg = grp.select(explode(col("ss")).as("supp"))
      .groupBy(col("supp")).agg(count(lit(1)).as("d"))
    sortedPairs(grp, "ss", "s1", "s2")
      .groupBy(col("s1"), col("s2"))
      .agg(count(lit(1)).as("shared"))
      .join(deg.select(col("supp").as("s1"), col("d").as("d1")), Seq("s1"))
      .join(deg.select(col("supp").as("s2"), col("d").as("d2")), Seq("s2"))
      .withColumn("jaccard", col("shared").cast("double")
        / (col("d1") + col("d2") - col("shared")).cast("double"))
      .filter(col("jaccard") >= 0.25)
      .select(col("s1"), col("s2"), col("shared"), col("d1"), col("d2"), col("jaccard"))
      .orderBy(col("s1"), col("s2"))
  }

  /** Bipartite projection of a (p, sk) edge list onto its `sk` side: the
    * 20 heaviest (s1, s2, shared_parts) pairs.
    */
  def projectionTop20(pairs: DataFrame): DataFrame =
    sortedPairs(pairs.groupBy(col("p")).agg(sort_array(collect_set(col("sk"))).as("ss")),
        "ss", "s1", "s2")
      .groupBy(col("s1"), col("s2"))
      .agg(count(lit(1)).as("shared_parts"))
      .orderBy(col("shared_parts").desc, col("s1"), col("s2"))
      .limit(20)

  // ── k-truss over an undirected (a, b) edge set ───────────────────────

  // EDGE-ITERATOR k-truss support of an (a, b) edge set (the wedge-join
  // formulation shuffled ~41 M wedge rows per pass at sf0.1, 16-30 s/run):
  // support(a,b) = |N(a) ∩ N(b)| directly. Two |E|-row equi joins
  // co-locate each edge with both endpoints' sorted adjacency arrays; the
  // intersection size is computed MAP-SIDE — nothing wedge-sized ever
  // crosses an exchange, and the arithmetic (Σ_e deg(a)+deg(b) element
  // steps, the same total work as the wedge enumeration) runs at memory
  // speed inside one stage. Skew bound = max adjacency array (max degree
  // 97 at sf0.1); a hub-heavy graph pairs this with the degree cap of
  // `ktrussCapped`.
  private def ktrussSupport(ed: DataFrame): DataFrame = {
    val adj = bothWays(ed, "n", "m")
      .groupBy(col("n")).agg(sort_array(collect_list(col("m"))).as("nbrs"))
    // shuffle_hash on the adjacency side of BOTH joins: under the
    // default sort-merge plan the SECOND join sorts its left input — the
    // |E|-row edge⋈adjacency intermediate already carrying one endpoint's
    // full array (~Σdeg² elements wide) — and that sort is the spill that
    // killed the sf10 measurement (~70 GB scratch, ENOSPC). Hashing the
    // SMALL side (|V| adjacency rows) instead lets the wide side stream
    // unsorted: scratch drops to the hash tables (|V|·deg elements per
    // partition).
    ed.join(adj.select(col("n").as("a"), col("nbrs").as("na")).hint("shuffle_hash"), "a")
      .join(adj.select(col("n").as("b"), col("nbrs").as("nb")).hint("shuffle_hash"), "b")
      .select(col("a"), col("b"),
        // native two-pointer merge count over the SORTED adjacency arrays
        // — array_intersect pays a boxed hash set + a materialized
        // intersection array per edge
        graft.functions.SketchFunctions
          .sortedIntersectCount(col("na"), col("nb")).as("sup"))
  }

  /** Two-round k-truss peel at k−2 = 12 with per-round stats (round,
    * n_edges, min_support, max_support). ONE support pass per level: its
    * checkpointed result serves both the round's stats and the next peel
    * (a stats+peel split would run the support pass twice per level).
    */
  def ktrussPeel(edges: DataFrame): DataFrame = {
    def stats(sup: DataFrame, round: Long): DataFrame =
      sup.agg(count(lit(1)).as("n_edges"),
        min(col("sup")).as("min_support"), max(col("sup")).as("max_support"))
        .select(lit(round).as("round"), col("n_edges"), col("min_support"),
          col("max_support"))
    val sup0 = ktrussSupport(edges).localCheckpoint()
    val sup1 = ktrussSupport(sup0.filter(col("sup") >= 12L).select(col("a"), col("b")))
      .localCheckpoint()
    val sup2 = ktrussSupport(sup1.filter(col("sup") >= 12L).select(col("a"), col("b")))
      .localCheckpoint()
    stats(sup0, 0L).unionByName(stats(sup1, 1L))
      .unionByName(stats(sup2, 2L))
      .orderBy(col("round"))
  }

  /** [[ktrussPeel]] after dropping every edge incident to a node of
    * degree > 60. Releases the checkpointed `e0` once the capped edge set
    * materializes, so only that set stays pinned during the support pass.
    */
  def ktrussCapped(e0: DataFrame): DataFrame = {
    val hubs = degrees(e0, "n").filter(col("deg") > 60L).select(col("n"))
    val capped = e0
      .join(hubs.select(col("n").as("a")), Seq("a"), "left_anti")
      .join(hubs.select(col("n").as("b")), Seq("b"), "left_anti")
      .select(col("a"), col("b"))
      .localCheckpoint()
    releaseCheckpoint(e0)
    ktrussPeel(capped)
  }

  /** What each degree cap ∈ {30, 60, 120} costs the capped k-truss:
    * exact hub count off the full degree table, then one support pass on
    * a deterministic md5 edge sample (rate 1/4; each triangle survives
    * with p³, so cross-cap ratios hold in expectation) per cap: (cap,
    * n_hubs, n_edges, n_sup_pos, max_support, sum_support). Releases the
    * checkpointed `e0` before the sweep.
    */
  def ktrussCapSweep(e0: DataFrame): DataFrame = {
    val deg = degrees(e0, "n").localCheckpoint()
    // an edge survives cap c iff max(deg(a), deg(b)) ≤ c, so the degrees
    // join the sampled edges ONCE into a checkpointed (a, b, dmax)
    // snapshot and each cap's subgraph is a plain filter over it (caps
    // nest, the filter is monotone); the coin lands in the same pass
    val dm = e0.filter(
        substring(md5(concat(lit("ks:"), col("a").cast("string"),
          lit(":"), col("b").cast("string"))), 1, 1) < "4")
      .join(deg.select(col("n").as("a"), col("deg").as("da")), "a")
      .join(deg.select(col("n").as("b"), col("deg").as("db")), "b")
      .select(col("a"), col("b"), greatest(col("da"), col("db")).as("dmax"))
      .localCheckpoint()
    releaseCheckpoint(e0)
    // each cap collapses to a collected 1-row verdict and its edge
    // checkpoint is released, blocking, before the next cap runs; the
    // caps run in ascending order, so the rows come out sorted
    val collected = Seq(30L, 60L, 120L).map { cap =>
      val nHubs = deg.filter(col("deg") > cap).count()
      val ec = dm.filter(col("dmax") <= cap).select(col("a"), col("b"))
        .localCheckpoint()
      val r = ktrussSupport(ec).agg(count(lit(1)).as("n_edges"),
          sum(when(col("sup") >= 1L, 1L).otherwise(0L)).as("n_sup_pos"),
          max(col("sup")).as("max_support"), sum(col("sup")).as("sum_support"))
        .head()
      releaseCheckpoint(ec)
      Row(cap, nHubs, r.getLong(0), r.get(1), r.get(2), r.get(3))
    }
    Bounded.frame(e0.sparkSession, collected, "cap BIGINT NOT NULL, n_hubs BIGINT NOT NULL, " +
      "n_edges BIGINT NOT NULL, n_sup_pos BIGINT, max_support BIGINT, sum_support BIGINT")
  }
}
