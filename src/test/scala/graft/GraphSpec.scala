package graft

import org.apache.spark.sql.functions._

import graft.operators.Graph

/** Fixed-point PageRank invariants (operators/Graph.scala). */
class GraphSpec extends SparkSpec {

  private val Scale = 1000000000000L
  private def lineitem = graft.sources.Tables.load(spark, sf, "lineitem")

  test("co-purchase edges are symmetric, deduplicated, and never self-looped") {
    val e = Graph.coPurchaseEdges(lineitem).cache()
    assert(e.filter(col("src") === col("dst")).count() === 0)
    assert(e.count() === e.distinct().count(), "edge list must be deduplicated")
    val rev = e.select(col("dst").as("src"), col("src").as("dst"))
    assert(e.exceptAll(rev).count() === 0, "every edge must have its reverse")
    e.unpersist()
  }

  test("pagerank: mass conserved to integer-truncation dust, every rank >= the " +
      "teleport base, bit-identical across runs, and a hub outranks a leaf") {
    val edges = Graph.coPurchaseEdges(lineitem)
    val r = Graph.pageRank(edges, rounds = 5, scale = Scale).cache()
    val n = r.count()
    // each of the 5 rounds loses < 1 unit per (edge-contrib + node) to
    // integer division — dust, not drift
    val mass = r.agg(sum("r")).head().getLong(0)
    assert(mass <= n * Scale, "integer truncation can only lose mass")
    assert(n * Scale - mass < n * 500L, s"lost ${n * Scale - mass} — more than dust")
    val base = 15L * Scale / 100L
    assert(r.filter(col("r") < base).count() === 0, "teleport mass is a floor")
    // deterministic: a rerun reproduces every bit
    val again = Graph.pageRank(edges, rounds = 5, scale = Scale)
    assert(r.exceptAll(again).count() === 0)
    r.unpersist()
    // a hand-built 4-star: the hub must outrank the leaves, leaves tie
    import spark.implicits._
    val star = Seq((1L, 2L), (1L, 3L), (1L, 4L), (1L, 5L)).toDF("pa", "pb")
    val starEdges = star.select(col("pa").as("src"), col("pb").as("dst"))
      .unionByName(star.select(col("pb").as("src"), col("pa").as("dst")))
    val sr = Graph.pageRank(starEdges, rounds = 5, scale = Scale)
      .collect().map(row => row.getLong(0) -> row.getLong(1)).toMap
    assert(sr(1L) > sr(2L), "the hub must outrank a leaf")
    assert(Set(2L, 3L, 4L, 5L).map(sr).size === 1, "symmetric leaves must tie exactly")
  }

  test("broadcast-ranks variant is bit-identical to the shuffle-join plan " +
      "(the dimension-graph fast path changes the exchange, never the math)") {
    val edges = Graph.coPurchaseEdges(
      graft.sources.Tables.load(spark, sf, "lineitem"))
    val plain = Graph.pageRank(edges, rounds = 3)
    val bcast = Graph.pageRank(edges, rounds = 3, broadcastRanks = true)
    assert(bcast.exceptAll(plain).isEmpty && plain.exceptAll(bcast).isEmpty)
  }

  test("knn pagerank: planted dense-cluster members outrank scattered " +
      "periphery vectors (the representative-selection contract)") {
    import spark.implicits._
    val dim = graft.operators.Similarity.Dim
    // cluster: 8 near-identical unit vectors along e0 (tiny distinct
    // perturbations); periphery: 12 vectors each along its own axis with
    // a 0.3 pull toward the cluster — their nearest neighbors are cluster
    // members, never each other
    val cluster = (0 until 8).map { j =>
      val v = Array.fill(dim)(0.0f); v(0) = 1.0f; v(j + 1) = 0.05f
      (j.toLong, v.toSeq, 0)
    }
    val periphery = (0 until 12).map { j =>
      val v = Array.fill(dim)(0.0f); v(0) = 0.3f; v(j + 20) = 1.0f
      (100L + j, v.toSeq, 1)
    }
    val emb = (cluster ++ periphery).toDF("vec_id", "embedding", "label")
    val top = graft.operators.Graph.knnPageRank(emb, k = 5, probes = 2, topK = 8)
      .select(col("vec_id")).collect().map(_.getLong(0)).toSet
    assert(top === (0L until 8L).toSet,
      s"the dense cluster must fill the top-8 representatives, got $top")
  }

  test("knn_pagerank_indexed: rank-from-index equals the direct build " +
      "bit-for-bit, and the bucketed edge scans plan with ZERO Exchange " +
      "(the build-once/rank-many contract)") {
    def exchanges(p: String): Int =
      p.sliding("Exchange hashpartitioning".length)
        .count(_ == "Exchange hashpartitioning")
    val emb = graft.sources.Tables.load(spark, sf, "embeddings")
    val direct = Graph.knnPageRank(emb, k = 5, probes = 2).cache()
    val indexed = Graph.knnPageRankIndexed(emb,
      table = "graft_knn_edges_spec", k = 5, probes = 2)
    assert(indexed.exceptAll(direct).isEmpty && direct.exceptAll(indexed).isEmpty,
      "the bucketed layout must never change answers")
    direct.unpersist()
    // plan pins (broadcast disabled so bucketing, not a broadcast, is
    // what removes the shuffles): the degree aggregate and the
    // chunked-adjacency build both cluster on `src`, which the bucketed
    // layout already satisfies — the edge list is NEVER exchanged by
    // any rank-side consumer
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val e = spark.table("graft_knn_edges_spec")
      val deg = e.groupBy(col("src")).agg(count(lit(1)).as("d"))
      val pd = deg.queryExecution.executedPlan.toString
      assert(exchanges(pd) === 0,
        s"degree aggregate over the bucketed edges must not shuffle:\n$pd")
      val adj = e.join(deg.select(col("src"), col("d")), "src")
        .groupBy(col("src"), col("d"),
          expr("pmod(hash(dst), CAST((d + 1023) DIV 1024 AS INT))").as("__ck"))
        .agg(collect_list(col("dst")).as("dsts"))
      val pa = adj.queryExecution.executedPlan.toString
      assert(exchanges(pa) === 0,
        s"adjacency build over the bucketed edges must not shuffle:\n$pa")
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("fitted-book index: consumers ride the fitted edge index unchanged — " +
      "rank-from-fitted-index equals PageRank over the ad-hoc fitted kNN edges") {
    // r17 (r16 VERDICT #3's second half): the fitted graph build is a
    // registered row (sim_knn_join_ivf_fitted); consumers must be
    // layout- AND book-plumbing-invariant — writeKnnEdgeIndex(fitted)
    // followed by pageRankFromIndex must equal the direct fixed-point
    // iteration over the symmetrized fitted pair list.
    val emb = graft.sources.Tables.load(spark, sf, "embeddings")
    Graph.writeKnnEdgeIndex(emb, "graft_knn_fitted_spec", k = 5, probes = 2,
      fittedBook = true)
    val indexed = Graph.pageRankFromIndex(spark, "graft_knn_fitted_spec")
    val pairs = graft.operators.Similarity.knnJoinIvf(emb,
      graft.operators.IvfSpec(fitted = true, probes = 2), k = 5)
      .select(least(col("query_id"), col("corpus_id")).as("pa"),
        greatest(col("query_id"), col("corpus_id")).as("pb"))
      .distinct()
    val edges = pairs.select(col("pa").as("src"), col("pb").as("dst"))
      .union(pairs.select(col("pb").as("src"), col("pa").as("dst")))
    val direct = Graph.rankCard(
      Graph.pageRankAdjacency(edges, symmetric = true), topK = 20)
    assert(indexed.exceptAll(direct).isEmpty && direct.exceptAll(indexed).isEmpty,
      "the fitted index layout must never change consumer answers")
    // and the fitted build really uses a different book: on this corpus
    // the edge sets may differ from the formula index — only sameness
    // of CONSUMER semantics is asserted, not sameness of graphs
  }

  test("knn_diversity_sample: the selected set is exactly the rank-local-maxima " +
      "(driver-replayed Luby round), independent in the graph, and includes the " +
      "global rank peak; rank-many consumers share ONE index build") {
    val emb = graft.sources.Tables.load(spark, sf, "embeddings")
    Graph.writeKnnEdgeIndex(emb, "graft_knn_consumers_spec", k = 5, probes = 2)
    // build-once/consume-many: BOTH consumers run off the one write above
    val sel = Graph.diversitySampleFromIndex(spark, "graft_knn_consumers_spec")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val ranks = Graph.pageRankFromIndex(spark, "graft_knn_consumers_spec",
      topK = Int.MaxValue)
    assert(sel.nonEmpty, "the sample must select someone")
    val edges = spark.table("graft_knn_consumers_spec")
      .select(col("src"), col("dst")).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val rank = ranks.select(col("vec_id"), col("rank_fp")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val nbrs = edges.groupBy(_._1).map { case (s, es) => s -> es.map(_._2).toSet }
    // driver replay of the Luby predicate: selected iff my (rank, -id)
    // beats every neighbor's
    def beats(a: Long, b: Long): Boolean =
      rank(a) > rank(b) || (rank(a) == rank(b) && a < b)
    val expected = rank.keySet.filter(id => nbrs(id).forall(n => beats(id, n)))
    assert(sel.map(_._1).toSet === expected,
      "selection must equal the driver-replayed local-maxima set")
    // independence: no two selected nodes are kNN neighbors
    for ((id, _, _) <- sel)
      assert(nbrs(id).intersect(sel.map(_._1).toSet).isEmpty,
        s"selected node $id has a selected neighbor — not an independent set")
    // the global peak (max rank, min id tie-break) has no beating neighbor
    val peak = rank.toSeq.minBy { case (id, r) => (-r, id) }._1
    assert(sel.map(_._1).contains(peak), "the global rank peak must be selected")
    // degrees reported are the graph's
    for ((id, _, d) <- sel) assert(d === nbrs(id).size.toLong)
  }

  test("knn_diversity_mis: the iterated Luby set is a TRUE maximal " +
      "independent set (independence + maximality), round 1 equals the " +
      "one-round diversity sample, and nobody is selected twice") {
    val emb = graft.sources.Tables.load(spark, sf, "embeddings")
    Graph.writeKnnEdgeIndex(emb, "graft_knn_mis_spec", k = 5, probes = 2)
    val mis = Graph.diversityMisFromIndex(spark, "graft_knn_mis_spec")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2)))
    val edges = spark.table("graft_knn_mis_spec")
      .select(col("src"), col("dst")).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val nodes = edges.map(_._1).toSet
    val nbrs = edges.groupBy(_._1).map { case (s, es) => s -> es.map(_._2).toSet }
    val selSet = mis.map(_._1).toSet
    // at most one selection per node, and only graph nodes
    assert(mis.length === selSet.size, "a node must be selected at most once")
    assert(selSet.subsetOf(nodes))
    // independence: no selected pair is an edge
    for (id <- selSet)
      assert(nbrs(id).intersect(selSet).isEmpty,
        s"selected node $id has a selected neighbor — not independent")
    // MAXIMALITY — the property the one-round sample lacks: every
    // unselected node has a selected neighbor
    for (id <- nodes if !selSet.contains(id))
      assert(nbrs(id).exists(selSet.contains),
        s"unselected node $id has no selected neighbor — not maximal")
    // round 1 is exactly the one-round diversity sample's selection
    val oneRound = Graph.diversitySampleFromIndex(spark, "graft_knn_mis_spec")
      .collect().map(_.getLong(0)).toSet
    assert(mis.filter(_._3 == 1).map(_._1).toSet === oneRound,
      "MIS round 1 must equal the one-round Luby sample")
    // the fuse left headroom (the oracle unrolls MisMaxRounds rounds)
    assert(mis.map(_._3).max <= Graph.MisMaxRounds)
  }

  test("knn_mis_assign: total over the graph (maximality makes it so), reps " +
      "map to themselves with null cos, and every other node takes its BEST " +
      "selected kNN neighbor by (exact edge cos, smaller id)") {
    val emb = graft.sources.Tables.load(spark, sf, "embeddings")
    Graph.writeKnnEdgeIndex(emb, "graft_knn_assign_spec", k = 5, probes = 2)
    val asg = Graph.misAssignFromIndex(spark, "graft_knn_assign_spec")
      .collect().map(r => (r.getLong(0), r.getLong(1),
        if (r.isNullAt(2)) None else Some(r.getDouble(2)), r.getBoolean(3)))
    val mis = Graph.diversityMisFromIndex(spark, "graft_knn_assign_spec")
      .collect().map(_.getLong(0)).toSet
    val edges = spark.table("graft_knn_assign_spec")
      .select(col("src"), col("dst"), col("cos")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val nodes = edges.map(_._1).toSet
    // total: exactly one row per graph node
    assert(asg.map(_._1).toSet === nodes)
    assert(asg.length === nodes.size)
    val byNode = edges.groupBy(_._1)
    for ((id, rep, cosOpt, isRep) <- asg) {
      if (mis.contains(id)) {
        assert(isRep && rep === id && cosOpt.isEmpty, s"rep $id must keep itself")
      } else {
        assert(!isRep && mis.contains(rep), s"node $id must map to a selected rep")
        // the chosen rep is a kNN neighbor carrying the edge's exact cos,
        // and no selected neighbor beats it by (cos desc, id asc)
        val selNbrs = byNode(id).filter(e => mis.contains(e._2))
        assert(selNbrs.exists(e => e._2 == rep && Some(e._3) == cosOpt),
          s"node $id: assigned rep $rep/$cosOpt is not a selected neighbor edge")
        val best = selNbrs.minBy(e => (-e._3, e._2))
        assert(rep === best._2 && cosOpt === Some(best._3),
          s"node $id: assignment must be the best selected neighbor")
      }
    }
  }

  test("knn_mis_cluster_stats: one card row per representative, membership " +
      "conserves the graph, and min/max cos equal a driver replay over the " +
      "assignment (memberless reps card as (1, null, null))") {
    val emb = graft.sources.Tables.load(spark, sf, "embeddings")
    Graph.writeKnnEdgeIndex(emb, "graft_knn_cluster_spec", k = 5, probes = 2)
    val asg = Graph.misAssignFromIndex(spark, "graft_knn_cluster_spec")
      .collect().map(r => (r.getLong(0), r.getLong(1),
        if (r.isNullAt(2)) None else Some(r.getDouble(2))))
    val card = Graph.misClusterStatsFromIndex(spark, "graft_knn_cluster_spec")
      .collect().map(r => r.getLong(0) -> (r.getLong(1),
        if (r.isNullAt(2)) None else Some(r.getDouble(2)),
        if (r.isNullAt(3)) None else Some(r.getDouble(3)))).toMap
    val reps = asg.filter(a => a._1 == a._2).map(_._1).toSet
    assert(card.keySet === reps, "one card row per representative, none extra")
    assert(card.values.map(_._1).sum === asg.length,
      "membership must conserve the graph")
    val byRep = asg.groupBy(_._2)
    for ((rep, (n, mn, mx)) <- card) {
      val members = byRep(rep)
      assert(n === members.length.toLong)
      val coss = members.flatMap(_._3)
      if (coss.isEmpty) assert(mn.isEmpty && mx.isEmpty,
        s"memberless rep $rep must card null cosines")
      else {
        assert(mn === Some(coss.min) && mx === Some(coss.max))
        assert(mn.get <= mx.get)
      }
    }
  }

  test("knn_semdedup_quality: same neighborhoods as min-id semdedup, exactly " +
      "one keep per component, and the keeper is the quality argmax " +
      "(ties to the smaller id) vs a driver replay") {
    val emb = graft.sources.Tables.load(spark, sf, "embeddings")
    val docs = graft.sources.Tables.load(spark, sf, "documents")
    Graph.writeKnnEdgeIndex(emb, "graft_knn_sdq_spec", k = 5, probes = 2)
    val minId = Graph.semDeDupFromIndex(spark, emb, "graft_knn_sdq_spec", 0.4)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val qual = graft.operators.TextOps.quality(docs)
      .select(col("doc_id"), col("quality"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val got = Graph.semDeDupQualityFromIndex(spark, docs, emb, "graft_knn_sdq_spec", 0.4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2)))
    assert(got.length === minId.size, "same domain as the min-id dedup")
    val byComp = minId.toSeq.groupBy(_._2)
    val expectBest = byComp.view.mapValues(ms =>
      ms.map(_._1).minBy(id => (-qual(id), id))).toMap
    for ((id, rep, keep) <- got) {
      assert(rep === expectBest(minId(id)),
        s"vec $id: rep must be its component's quality argmax")
      assert(keep === (id == rep))
    }
    // exactly one keep per component
    assert(got.count(_._3) === byComp.size)
    // DOC-LESS vectors (r14 ADVICE): drop some documents rows — the
    // output domain must NOT shrink (left-join contract), and a vector
    // with no quality row never wins the keep unless its whole
    // component is doc-less (then the pick degrades to min-id)
    val docsCut = docs.filter(col("doc_id") % 7 =!= 3)
    val gotCut = Graph.semDeDupQualityFromIndex(spark, docsCut, emb,
      "graft_knn_sdq_spec", 0.4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2)))
    assert(gotCut.length === minId.size,
      "doc-less vectors must stay in the output domain")
    val qualCut = qual.view.filterKeys(_ % 7 != 3).toMap
    val expectCutBest = byComp.view.mapValues(ms =>
      ms.map(_._1).minBy(id =>
        (-qualCut.getOrElse(id, -Double.MaxValue), id))).toMap
    for ((id, rep, keep) <- gotCut) {
      assert(rep === expectCutBest(minId(id)),
        s"vec $id: doc-less keeper pick must match the sentinel replay")
      assert(keep === (id == rep))
    }
  }

  test("knn_degree_card: the histogram conserves nodes and edges and equals " +
      "a driver replay over the index") {
    val emb = graft.sources.Tables.load(spark, sf, "embeddings")
    Graph.writeKnnEdgeIndex(emb, "graft_knn_degree_spec", k = 5, probes = 2)
    val card = Graph.degreeCardFromIndex(spark, "graft_knn_degree_spec")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val edges = spark.table("graft_knn_degree_spec")
      .select(col("src")).collect().map(_.getLong(0))
    val degs = edges.groupBy(identity).view.mapValues(_.length.toLong).toMap
    val expect = degs.values.groupBy(identity).view
      .mapValues(_.size.toLong).toMap
    assert(card === expect, "histogram must equal the driver replay")
    assert(card.values.sum === degs.size.toLong, "nodes conserved")
    assert(card.map { case (d, n) => d * n }.sum === edges.length.toLong,
      "edges conserved (sum of deg * count)")
    // every degree is at least 1 (an indexed node has an edge) and the
    // graph is k-capped per orientation, so max degree is bounded by
    // in-degree + k — sanity that no hub exceeds the node count
    assert(card.keys.min >= 1L && card.keys.max < degs.size.toLong)
  }

  test("knn_triangle_card: a hand-built K4-plus-tail graph counts exactly; " +
      "the index card equals a driver brute-force replay; max_fwd_deg " +
      "respects the sqrt(2E) orientation bound") {
    import spark.implicits._
    // K4 on {1,2,3,4} (4 triangles) + tail 4-5-6 (none): degrees
    // 3,3,3,4,2,1 -> wedges 9+6+1 = 16, ccoef = 3*4/16 = 0.75
    val hand = Seq((1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L),
      (3L, 4L), (4L, 5L), (5L, 6L))
    val sym = hand.flatMap { case (a, b) => Seq((a, b), (b, a)) }
      .toDF("src", "dst")
    val h = Graph.triangleCard(sym).head()
    assert(h.getLong(0) === 6L, "n_nodes")
    assert(h.getLong(1) === 8L, "n_edges")
    assert(h.getLong(2) === 16L, "n_wedges")
    assert(h.getLong(3) === 4L, "n_tri")
    assert(h.getLong(4) === 750000L, "ccoef_fp = 0.75 at scale 1e6")
    assert(h.getLong(5) === 3L, "max oriented out-degree (node 1)")
    // the real index vs a driver brute force (triangle (a<b<c) counted
    // once at its (a,b) edge via common higher neighbors)
    val emb = graft.sources.Tables.load(spark, sf, "embeddings")
    Graph.writeKnnEdgeIndex(emb, "graft_knn_tri_spec", k = 5, probes = 2)
    val card = Graph.triangleCardFromIndex(spark, "graft_knn_tri_spec").head()
    val pairs = spark.table("graft_knn_tri_spec")
      .filter(col("src") < col("dst")).select("src", "dst")
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val adj = pairs.flatMap { case (a, b) => Seq(a -> b, b -> a) }
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val triBrute = pairs.map { case (a, b) =>
      (adj(a) intersect adj(b)).count(c => c > b).toLong
    }.sum
    val wedgeBrute = adj.values.map(s => s.size.toLong * (s.size - 1) / 2).sum
    assert(card.getLong(0) === adj.size.toLong, "index n_nodes")
    assert(card.getLong(1) === pairs.length.toLong, "index n_edges")
    assert(card.getLong(2) === wedgeBrute, "index n_wedges")
    assert(card.getLong(3) === triBrute, "index n_tri")
    val expectCoef =
      if (wedgeBrute == 0) 0L else 3L * triBrute * 1000000L / wedgeBrute
    assert(card.getLong(4) === expectCoef, "index ccoef_fp")
    // Schank orientation bound: an oriented out-neighbor has degree >=
    // deg(v) >= fwd_deg(v), so fwd_deg^2 <= sum(deg) = 2E
    assert(card.getLong(5) * card.getLong(5) <= 2L * card.getLong(1),
      "max_fwd_deg must respect the sqrt(2E) bound")
  }

  test("knn_semdedup: labels equal a driver union-find over the tau-filtered " +
      "index pairs; exactly one keep per neighborhood and the keeper is the " +
      "minimum id; a planted dense cluster collapses to ONE representative") {
    val emb = graft.sources.Tables.load(spark, sf, "embeddings")
    val out = Graph.knnSemDeDup(emb, "graft_knn_semdedup_spec",
      k = 5, probes = 2, tau = 0.4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2)))
    // driver union-find over the same thresholded pairs
    val pairs = spark.table("graft_knn_semdedup_spec")
      .filter(col("cos") >= 0.4 && col("src") < col("dst"))
      .select(col("src"), col("dst")).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElse(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    for ((a, b) <- pairs) { val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb) }
    for ((id, rep, keep) <- out) {
      assert(rep === find(id), s"vec $id: rep $rep != union-find ${find(id)}")
      assert(keep === (id == rep))
    }
    // one keep per component, keeper = component min
    val byRep = out.groupBy(_._2)
    for ((rep, members) <- byRep) {
      assert(members.count(_._3) === 1, s"component $rep must keep exactly one")
      assert(members.map(_._1).min === rep, s"keeper of $rep must be the min id")
    }
    // planted semantics: a dense near-identical cluster collapses to one
    // keep while orthogonal periphery vectors all keep themselves
    import spark.implicits._
    val dim = graft.operators.Similarity.Dim
    val cluster = (0 until 8).map { j =>
      val v = Array.fill(dim)(0.0f); v(0) = 1.0f; v(j + 1) = 0.05f
      (j.toLong, v.toSeq, 0)
    }
    val periphery = (0 until 12).map { j =>
      val v = Array.fill(dim)(0.0f); v(0) = 0.3f; v(j + 20) = 1.0f
      (100L + j, v.toSeq, 1)
    }
    val planted = (cluster ++ periphery).toDF("vec_id", "embedding", "label")
    val pl = Graph.knnSemDeDup(planted, "graft_knn_semdedup_spec2",
      k = 5, probes = 2, tau = 0.4)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2)))
    assert(pl.filter(_._1 < 8L).forall(_._2 == 0L),
      "the dense cluster must collapse into vec 0's neighborhood")
    assert(pl.count(_._3) === 13,
      "one cluster keep + 12 periphery singletons")
  }

  test("chunked-adjacency pagerank is bit-identical to the edge-list form — " +
      "on the symmetric co-purchase graph (both fast-path flags) and on a " +
      "DIRECTED chain where no-in-edge nodes must re-enter at the teleport base") {
    val edges = Graph.coPurchaseEdges(lineitem)
    val ref = Graph.pageRank(edges, rounds = 3).cache()
    // chunk = 4 forces real multi-chunk splits at any degree > 4
    val adjacency = Graph.pageRankAdjacency(edges, rounds = 3, chunk = 4)
    assert(adjacency.exceptAll(ref).isEmpty && ref.exceptAll(adjacency).isEmpty)
    val fast = Graph.pageRankAdjacency(edges, rounds = 3, chunk = 4,
      broadcastRanks = true, symmetric = true)
    assert(fast.exceptAll(ref).isEmpty && ref.exceptAll(fast).isEmpty)
    ref.unpersist()
    // directed chain 1→2→3→4: node 1 has no in-edges and must hold the
    // teleport base every round — the completion join symmetric=true drops
    import spark.implicits._
    val chain = Seq((1L, 2L), (2L, 3L), (3L, 4L)).toDF("src", "dst")
    val chainRef = Graph.pageRank(chain, rounds = 3)
    val chainAdj = Graph.pageRankAdjacency(chain, rounds = 3, chunk = 4)
    assert(chainAdj.exceptAll(chainRef).isEmpty && chainRef.exceptAll(chainAdj).isEmpty)
    val base = 15L * Scale / 100L
    assert(chainAdj.filter(col("id") === 1L).head().getLong(1) === base)
  }

  test("the N-adaptive broadcast switch takes the measured node count — " +
      "a 1-node budget forces the over-threshold SHUFFLE arm and ranks stay " +
      "bit-identical to the broadcast arm (join strategy cannot change the " +
      "fixed-point integers)") {
    val edges = Graph.coPurchaseEdges(lineitem)
    val bcastArm = Graph.pageRankAdjacency(edges, rounds = 3, chunk = 4,
      symmetric = true, broadcastMaxNodes = Some(Long.MaxValue)).cache()
    // any real part dimension exceeds 1 node → the shuffle (100-TB) arm
    val shuffleArm = Graph.pageRankAdjacency(edges, rounds = 3, chunk = 4,
      symmetric = true, broadcastMaxNodes = Some(1L))
    assert(bcastArm.exceptAll(shuffleArm).isEmpty &&
      shuffleArm.exceptAll(bcastArm).isEmpty)
    // and both must equal the edge-list reference — the switch changes
    // join strategy only, never the integers
    val ref = Graph.pageRank(edges, rounds = 3)
    assert(bcastArm.exceptAll(ref).isEmpty && ref.exceptAll(bcastArm).isEmpty)
    bcastArm.unpersist()
  }

  test("knn_consumer_card: the single-row card equals every consumer run " +
      "individually on its own index build (the shared layout changes no " +
      "answer)") {
    val emb = graft.sources.Tables.load(spark, sf, "embeddings")
    val card = Graph.knnConsumerCard(emb, table = "graft_card_spec").head()
    // graph health vs the standalone degree card
    val degHist = Graph.knnDegreeCard(emb, table = "graft_card_spec_deg")
      .collect()
    val nNodes = degHist.map(_.getLong(1)).sum
    val nEdges = degHist.map(r => r.getLong(0) * r.getLong(1)).sum / 2
    val maxDeg = degHist.map(_.getLong(0)).max
    assert(card.getAs[Long]("n_nodes") === nNodes)
    assert(card.getAs[Long]("n_edges") === nEdges)
    assert(card.getAs[Long]("max_deg") === maxDeg)
    // PageRank peak vs the standalone top-k card's first row
    val prTop = Graph.knnPageRank(emb).orderBy(col("rnk")).head()
    assert(card.getAs[Long]("pr_top_id") === prTop.getAs[Long]("vec_id"))
    assert(card.getAs[Long]("pr_top_rank") === prTop.getAs[Long]("rank_fp"))
    // MIS census vs the standalone iterated-Luby output
    val mis = Graph.knnDiversityMis(emb, table = "graft_card_spec_mis")
      .collect()
    assert(card.getAs[Long]("mis_selected") === mis.length.toLong)
    assert(card.getAs[Int]("mis_rounds") === mis.map(_.getAs[Int]("sel_round")).max)
    // SemDeDup census vs the standalone neighborhood labels
    val sd = Graph.knnSemDeDup(emb, table = "graft_card_spec_sd").collect()
    assert(card.getAs[Long]("n_vectors") === sd.length.toLong)
    assert(card.getAs[Long]("sd_reps") ===
      sd.count(_.getAs[Boolean]("keep")).toLong)
  }
}
