package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.{Clustering, Dedup}

/** Connected-components clustering: equality with a driver-side
  * union-find on small graphs (including shapes that stress the
  * alternating algorithm — chains whose diameter exceeds the round
  * count of naive propagation), plus the end-to-end cluster query's
  * curation invariants.
  */
class ClusteringSpec extends AnyFunSuite {

  private val dir = "/root/testdata/sf0.001"

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .appName("graft-clustering-test")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  /** Reference union-find with path compression. */
  private def bruteComponents(edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x
      else { val r = find(p); parent(x) = r; r }
    }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    parent.keys.map(k => k -> find(k)).toMap
  }

  /** threshold 0 = always the distributed alternating-star path;
    * default = the driver union-find finish. Both must agree.
    */
  private def ccOf(
      edges: Seq[(Long, Long)], driverFinish: Long = 0L): Map[Long, Long] = {
    import spark.implicits._
    Clustering.connectedComponents(edges.toDF("a", "b"), "a", "b", driverFinish)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
  }

  test("driver-finish path equals distributed path and union-find") {
    val edges = Seq[(Long, Long)](
      (1L, 2L), (2L, 3L), (3L, 10L), (10L, 11L), (20L, 21L))
    val brute = bruteComponents(edges)
    assert(ccOf(edges, driverFinish = 1000000L) === brute)
    assert(ccOf(edges, driverFinish = 0L) === brute)
  }

  test("components match union-find on mixed graph shapes") {
    // two cliques, a bridge, an isolated pair, a triangle sharing a node
    val edges = Seq[(Long, Long)](
      (1L, 2L), (2L, 3L), (1L, 3L),            // triangle
      (3L, 10L),                                // bridge into...
      (10L, 11L), (11L, 12L), (10L, 12L),       // ...second clique
      (20L, 21L),                               // isolated pair
      (30L, 31L), (31L, 32L), (32L, 30L), (32L, 33L))
    assert(ccOf(edges) === bruteComponents(edges))
  }

  test("long chain collapses to one component (diameter stress)") {
    // path graph 0-1-2-...-99: naive min-propagation needs 99 rounds;
    // alternating star rounds must converge much faster and still be
    // exact
    val edges = (0L until 99L).map(i => (i, i + 1))
    val got = ccOf(edges)
    assert(got.size === 100)
    assert(got.values.toSet === Set(0L))
  }

  test("duplicate and reversed edges don't change the answer") {
    val edges = Seq[(Long, Long)]((5L, 9L), (9L, 5L), (5L, 9L), (9L, 14L))
    assert(ccOf(edges) === bruteComponents(edges))
  }

  test("empty pair set yields empty clustering") {
    import spark.implicits._
    val out = Clustering.connectedComponents(
      Seq.empty[(Long, Long)].toDF("a", "b"), "a", "b")
    assert(out.count() === 0)
  }

  test("minhash-pair cluster labels equal exact-jaccard-pair labels") {
    // nearDupClusterLabels swapped its pair finder from the exact shingle
    // self-join to MinHash banding + exact verify (subquadratic); the
    // recursive-CTE oracle only carries over if banding recall stays 1 on
    // this fixture — pin the equivalence at the cluster-label level
    import graft.operators.Dedup
    val viaMinhash = Clustering.nearDupClusterLabels(spark, dir)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val sh = Dedup.capDocFrequency(
      Dedup.shingleIndex(Dedup.corpusNear(spark, dir), 3),
      Dedup.ShingleDfCap).persist()
    val exactPairs = Dedup.jaccardPairs(sh, 0.5).localCheckpoint(true)
    sh.unpersist()
    val viaExact = Clustering.connectedComponents(exactPairs, "id_a", "id_b")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(viaMinhash === viaExact)
  }

  test("q_dedup_clusters: one keeper per cluster, sizes consistent") {
    val out = Clustering.qDedupClusters(spark, dir).cache()
    val rows = out.collect()
    assert(rows.nonEmpty, "fixture injects near-dups, clusters expected")
    val byCluster = rows.groupBy(_.getLong(1))
    byCluster.foreach { case (cid, members) =>
      assert(members.count(_.getBoolean(3)) === 1,
        s"cluster $cid must have exactly one keeper")
      assert(members.forall(_.getLong(2) === members.length),
        s"cluster $cid sizes must equal member count")
      assert(cid === members.map(_.getLong(0)).min,
        s"cluster id must be the min member id")
      assert(members.length >= 2, "singletons are not emitted")
    }
    out.unpersist()
  }

  test("q_softdedup_weights: clusters weigh one doc, singletons weigh 1.0") {
    val w = Clustering.qSoftDedupWeights(spark, dir).collect()
    val info = Clustering.qDedupClusters(spark, dir).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    val clusters = info.view.mapValues(_._2).toMap
    // full corpus spine: every doc appears exactly once
    assert(w.map(_.getLong(0)).distinct.length === w.length)
    w.foreach { r =>
      val (id, size, weight) = (r.getLong(0), r.getLong(1), r.getDouble(2))
      clusters.get(id) match {
        case Some(cs) =>
          assert(size === cs, s"doc $id size mismatch")
          assert(math.abs(weight - 1.0 / cs) < 5e-7, s"doc $id weight")
        case None =>
          assert(size === 1L && weight === 1.0,
            s"unclustered doc $id must weigh 1.0")
      }
    }
    // each near-dup equivalence class contributes ~one doc of mass
    val byCluster = w.filter(r => info.contains(r.getLong(0)))
      .groupBy(r => info(r.getLong(0))._1)
    byCluster.foreach { case (_, ms) =>
      val mass = ms.map(_.getDouble(2)).sum
      assert(math.abs(mass - ms.head.getLong(1).toDouble *
        ms.head.getDouble(2)) < 1e-4)
      assert(math.abs(mass - 1.0) < 1e-3, s"cluster mass $mass")
    }
  }

  test("a fixture's schema is inferred once per session: a second " +
    "cluster-histogram execution runs no parquet schema job") {
    Clustering.qClusterHistogram(spark, dir).collect()
    val jobs = JobCensus.of(spark) {
      Clustering.qClusterHistogram(spark, dir).collect(); ()
    }
    val inferred = jobs.filter(_.stages.exists(_.startsWith("parquet at Tables")))
    assert(inferred.isEmpty, jobs.mkString("\n"))
  }

  test("cluster histogram conserves the corpus and matches the clusters") {
    val hist = Clustering.qClusterHistogram(spark, dir).collect()
    val nTotal = Dedup.corpusNear(spark, dir).count()
    // every doc lands in exactly one size bucket
    assert(hist.map(_.getLong(2)).sum === nTotal)
    assert(math.abs(hist.map(_.getDouble(3)).sum - 1.0) < 5e-3)
    // the non-singleton buckets recount qDedupClusters' sizes
    val sizes = Clustering.qDedupClusters(spark, dir).collect()
      .groupBy(_.getLong(1)).map(_._2.head.getLong(2))
      .groupBy(identity).view.mapValues(_.size.toLong).toMap
    hist.filter(_.getLong(0) >= 2).foreach { r =>
      assert(sizes(r.getLong(0)) === r.getLong(1),
        s"size ${r.getLong(0)} cluster count")
    }
    // size-1 bucket = docs in no cluster
    val clustered = Clustering.qDedupClusters(spark, dir).count()
    val s1 = hist.find(_.getLong(0) == 1L).get
    assert(s1.getLong(2) === nTotal - clustered)
  }

  /** Driver-side reference PageRank (same formula and rounding). */
  private def brutePageRank(
      edges: Seq[(Long, Long)], iters: Int): Map[Long, Double] = {
    val e = edges.filter(p => p._1 != p._2).distinct
    val nodes = e.flatMap(p => Seq(p._1, p._2)).distinct.sorted
    val n = nodes.length.toDouble
    val outdeg = e.groupBy(_._1).view.mapValues(_.length.toDouble).toMap
    var rank = nodes.map(_ -> 1.0 / n).toMap
    for (_ <- 1 to iters) {
      val in = e.groupBy(_._2).view.mapValues(
        _.map(p => rank(p._1) / outdeg(p._1)).sum).toMap
      rank = nodes.map(v => v -> BigDecimal(
        0.15 / n + 0.85 * in.getOrElse(v, 0.0))
        .setScale(12, BigDecimal.RoundingMode.HALF_UP).toDouble).toMap
    }
    rank
  }

  private def prOf(edges: Seq[(Long, Long)]): Map[Long, Double] = {
    import spark.implicits._
    Clustering.pageRank(edges.toDF("src", "dst"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
  }

  test("pageRank matches driver-side reference on a cyclic graph") {
    // cycle with a chord and a dangling sink — exercises in-degree
    // asymmetry, out-degree division, and leaked dangling mass
    val edges = Seq[(Long, Long)](
      (1L, 2L), (2L, 3L), (3L, 1L), (1L, 3L), (3L, 4L))
    val got = prOf(edges)
    val want = brutePageRank(edges, 5)
    assert(got.keySet === want.keySet)
    got.foreach { case (k, v) =>
      assert(math.abs(v - want(k)) < 1e-11, s"node $k: $v vs ${want(k)}")
    }
  }

  test("pageRank: symmetric cycle is uniform, hub outranks spokes") {
    // pure 3-cycle: rank must stay exactly 1/3 each round
    val cyc = prOf(Seq((1L, 2L), (2L, 3L), (3L, 1L)))
    cyc.values.foreach(v => assert(math.abs(v - 1.0 / 3) < 1e-9))
    // star into node 9: the hub must dominate every spoke
    val star = prOf(Seq((1L, 9L), (2L, 9L), (3L, 9L), (9L, 1L)))
    assert(star(9L) > star(1L) && star(9L) > star(2L))
    // spoke 1 receives the hub's mass; 2 and 3 only teleport mass
    assert(star(1L) > star(2L) && math.abs(star(2L) - star(3L)) < 1e-12)
  }

  test("kCore peels chains, keeps cycles, and contains every triangle") {
    import spark.implicits._
    // a 4-cycle (its own 2-core), a chain of 4 (peels to nothing), and
    // a triangle hanging off the chain (survives; the chain tail doesn't)
    val edges = Seq(
      (1L, 2L), (2L, 3L), (3L, 4L), (4L, 1L), // cycle
      (10L, 11L), (11L, 12L), (12L, 13L), // chain
      (13L, 20L), (20L, 21L), (21L, 13L) // triangle at the chain's end
    ).toDF("a", "b")
    val core = Clustering.kCore(edges, "a", "b", 2)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(core.keySet === Set(1L, 2L, 3L, 4L, 13L, 20L, 21L))
    assert(core.values.forall(_ >= 2L), "every survivor has degree >= k")
    // empty input and over-peeling both land on the empty frame
    assert(Clustering.kCore(edges, "a", "b", 3).count() === 0)
    assert(Clustering.kCore(
      Seq.empty[(Long, Long)].toDF("a", "b"), "a", "b", 2).count() === 0)
    // fixture invariant: triangle members always survive the 2-core peel
    // (a triangle is everywhere degree-2, so peeling can never enter it)
    val tri = Clustering.qTriangles(spark, dir)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val fixtureCore = Clustering.qKCore(spark, dir)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(tri.subsetOf(fixtureCore))
  }

  test("labelPropagation separates cliques one component would merge") {
    import spark.implicits._
    // two triangles joined by a single bridge edge: ONE connected
    // component, but LPA keeps two communities — each triangle floods
    // to its min id in round 1 (self-retention vote included), and the
    // bridge's single vote can never outvote a clique's majority
    val edges = Seq(
      (1L, 2L), (2L, 3L), (1L, 3L), // clique A
      (10L, 11L), (11L, 12L), (10L, 12L), // clique B
      (3L, 10L) // bridge
    ).toDF("a", "b")
    val lpa = Clustering.labelPropagation(edges, "a", "b", 4)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(lpa(1L) === 1L && lpa(2L) === 1L && lpa(3L) === 1L)
    assert(lpa(11L) === 10L && lpa(12L) === 10L)
    // vs components: everything collapses to one cluster
    val cc = Clustering.connectedComponents(
      edges.toDF("u", "v"), "u", "v", 0L)
      .select("cluster_id").distinct().count()
    assert(cc === 1L)
    // converged on this fixture: one more round changes nothing
    val more = Clustering.labelPropagation(edges, "a", "b", 5)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(more === lpa)
    // empty input keeps the output shape
    val none = Clustering.labelPropagation(
      Seq.empty[(Long, Long)].toDF("a", "b"), "a", "b", 4)
    assert(none.columns.toSeq === Seq("node", "community"))
    assert(none.count() === 0)
  }

  test("pageRank and triangle census: empty edges yield empty frames") {
    import spark.implicits._
    val none = Seq.empty[(Long, Long)].toDF("src", "dst")
    assert(Clustering.pageRank(none).columns.toSeq ===
      Seq("node", "rank"))
    assert(Clustering.pageRank(none).count() === 0)
    assert(Clustering.triangleCounts(none, "src", "dst").count() === 0)
  }

  /** Driver-side triangle reference: brute over node triples. */
  private def bruteTriangles(edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val es = edges.map(p => (math.min(p._1, p._2), math.max(p._1, p._2)))
      .filter(p => p._1 != p._2).toSet
    val nodes = es.toSeq.flatMap(p => Seq(p._1, p._2)).distinct.sorted
    val tri = for {
      a <- nodes; b <- nodes if a < b && es((a, b))
      c <- nodes if b < c && es((b, c)) && es((a, c))
    } yield (a, b, c)
    tri.flatMap(t => Seq(t._1, t._2, t._3))
      .groupBy(identity).view.mapValues(_.length.toLong).toMap
  }

  test("triangleCounts matches brute force; chains have none") {
    import spark.implicits._
    // two triangles sharing edge (2,3), a chain tail, duplicate and
    // reversed edges thrown in — orientation must still count each once
    val edges = Seq[(Long, Long)](
      (1L, 2L), (2L, 3L), (3L, 1L), (4L, 2L), (3L, 4L),
      (2L, 1L), (1L, 2L), (4L, 5L), (5L, 6L))
    val got = Clustering
      .triangleCounts(edges.toDF("a", "b"), "a", "b")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got === bruteTriangles(edges))
    // pure chain: no triangles at all
    val chain = Seq[(Long, Long)]((1L, 2L), (2L, 3L), (3L, 4L))
    assert(Clustering
      .triangleCounts(chain.toDF("a", "b"), "a", "b").count() === 0)
  }

  test("q_triangles docs are all members of >=3-sized clusters") {
    // a triangle is three mutual near-dup edges, so each of its docs
    // must sit in a cluster of at least 3 members
    val tri = Clustering.qTriangles(spark, dir)
      .collect().map(_.getLong(0)).toSet
    if (tri.nonEmpty) {
      val sizes = Clustering.qDedupClusters(spark, dir)
        .collect().map(r => r.getLong(0) -> r.getLong(2)).toMap
      tri.foreach(docId =>
        assert(sizes.get(docId).exists(_ >= 3),
          s"triangle member $docId must be in a >=3 cluster"))
    }
  }
}
