package graft

import org.apache.spark.sql.functions._
import org.scalacheck.{Gen, Prop, Test => SCTest}
import graft.queries.{Cluster, Dedup}

/** Connected components vs a local union-find model: fixed shapes
  * (cliques, a long path exercising multi-round convergence, isolated
  * pairs, cycles) plus ScalaCheck random graphs; and the end-to-end
  * dedup_cluster consistency with the MinHash candidate producer.
  */
class ClusterSpec extends SparkSuite {
  import spark.implicits._

  private def unionFind(edges: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    edges.flatMap(e => Seq(e._1, e._2)).distinct.map(n => n -> find(n)).toMap
  }

  private def ccOf(edges: Seq[(Long, Long)]): Map[Long, Long] =
    Cluster.connectedComponents(edges.toDF("src", "dst"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  private def ccStarOf(edges: Seq[(Long, Long)]): Map[Long, Long] =
    Cluster.connectedComponentsLogStar(edges.toDF("src", "dst"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  test("cliques, cycles, and isolated pairs get min-id cluster labels") {
    val edges = Seq[(Long, Long)](
      (1, 2), (2, 3), (3, 1),      // triangle  -> 1
      (10, 11),                    // pair      -> 10
      (20, 21), (21, 22), (22, 20), (20, 22), // cycle + dup edge -> 20
      (30, 31), (31, 32), (30, 32))
    assert(ccOf(edges) === unionFind(edges))
  }

  private def clustersOf(edges: Seq[(Long, Long)]): Map[Long, (Long, Long)] =
    Cluster.clustersOf(edges.toDF("doc_a", "doc_b")).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap

  test("long path converges past many propagation rounds") {
    // Path 0-1-2-...-120: min-label needs ~diameter rounds (far past
    // any fixed round cap); all nodes -> 0.
    val edges = (0L until 120L).map(i => (i, i + 1))
    val got = ccOf(edges)
    assert(got.size === 121 && got.values.forall(_ === 0L))
  }

  test("random graphs match union-find (ScalaCheck)") {
    val genEdges = Gen.listOfN(60,
      Gen.zip(Gen.choose(0L, 29L), Gen.choose(0L, 29L)).suchThat(e => e._1 != e._2))
    val res = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(8),
      Prop.forAll(genEdges) { edges =>
        val uf = unionFind(edges)
        val sizes = uf.values.groupBy(identity).view.mapValues(_.size.toLong).toMap
        edges.isEmpty || (ccOf(edges) == uf &&
          clustersOf(edges) == uf.map { case (n, c) => n -> (c, sizes(c)) })
      })
    assert(res.passed, res.status.toString)
    // no edges -> no clusters; self-loops -> one single-node cluster each
    assert(clustersOf(Seq.empty).isEmpty)
    assert(clustersOf(Seq((3L, 3L), (7L, 7L), (7L, 7L))) ===
      Map(3L -> ((3L, 1L)), 7L -> ((7L, 1L))))
  }

  test("logStar variant: cliques, cycles, pairs, self-loop-only input") {
    val edges = Seq[(Long, Long)](
      (1, 2), (2, 3), (3, 1), (10, 11),
      (20, 21), (21, 22), (22, 20), (20, 22),
      (30, 31), (31, 32), (30, 32))
    assert(ccStarOf(edges) === unionFind(edges))
  }

  test("logStar converges on a deep path in O(log n) rounds") {
    // Path 0-..-60: diameter 60 >> maxIter 25 — only the star-contract
    // algorithm can finish inside the round budget.
    val edges = (0L until 60L).map(i => (i, i + 1))
    val got = ccStarOf(edges)
    assert(got.size === 61 && got.values.forall(_ === 0L))
  }

  test("logStar random graphs match union-find and label propagation (ScalaCheck)") {
    val genEdges = Gen.listOfN(50,
      Gen.zip(Gen.choose(0L, 24L), Gen.choose(0L, 24L)).suchThat(e => e._1 != e._2))
    val res = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(8),
      Prop.forAll(genEdges) { edges =>
        edges.isEmpty || {
          val uf = unionFind(edges)
          ccStarOf(edges) == uf && ccOf(edges) == uf
        }
      })
    assert(res.passed, res.status.toString)
  }

  test("minhash-edged clusters equal ngram-edged clusters on synthetic near-dup corpora") {
    // Three duplicate groups well above the 0.6 threshold (long docs,
    // one-word edits → jac ≥ 0.8) plus unrelated docs and an empty doc.
    val a = "alpha bravo charlie delta echo foxtrot golf hotel india juliet kilo lima " +
      "mike november oscar papa quebec romeo sierra tango uniform victor whiskey xray yankee zulu"
    val b = "one two three four five six seven eight nine ten eleven twelve thirteen " +
      "fourteen fifteen sixteen seventeen eighteen nineteen twenty twentyone twentytwo twentythree"
    val corpus = Seq(
      (0L, a), (1L, a.replace("zulu", "zed")), (2L, a), // group -> {0,1,2}
      (10L, b), (11L, b.replace("twenty", "score")),    // group -> {10,11}
      (20L, "spark catalyst optimizer rules rewrite logical plans into physical plans " +
        "with exchange reuse and whole stage code generation for compiled pipelines"),
      (21L, "spark catalyst optimizer rules rewrite logical plans into physical plans " +
        "with exchange reuse and whole stage code generation for compiled loops"), // -> {20,21}
      (30L, "completely unrelated text about databases"), (31L, ""))
      .toDF("doc_id", "text")
    def clusters(edges: org.apache.spark.sql.DataFrame): Map[Long, (Long, Long)] =
      Cluster.clustersOf(edges).collect()
        .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    val ngram = clusters(Dedup.ngramScored(corpus)
      .filter(col("jac") >= 0.6).select("doc_a", "doc_b"))
    val minhash = clusters(Dedup.minhashScored(corpus)
      .filter(col("jac") >= 0.6).select("doc_a", "doc_b"))
    assert(minhash === ngram)
    assert(ngram.keySet === Set(0L, 1L, 2L, 10L, 11L, 20L, 21L))
    assert(ngram(0L) === ((0L, 3L)) && ngram(10L) === ((10L, 2L)) && ngram(21L) === ((20L, 2L)))
  }

  test("dedup_cluster_minhash equals dedup_cluster on the sf0.001 corpus") {
    def asMap(df: org.apache.spark.sql.DataFrame): Map[Long, (Long, Long)] =
      df.collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    val ngram = asMap(Cluster.dedupCluster(spark, sfDir))
    val minhash = asMap(Cluster.dedupClusterMinhash(spark, sfDir))
    assert(ngram.nonEmpty)
    assert(minhash === ngram)
  }

  test("dedup_keep retains exactly one doc per cluster plus every unclustered doc") {
    val clusters = Cluster.dedupCluster(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val kept = Cluster.dedupKeep(spark, sfDir).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val total = graft.core.Tables.documents(spark, sfDir).count()
    clusters.groupBy(_._2).foreach { case (cid, ms) =>
      assert(kept.get(cid) === Some(ms.length.toLong), s"cluster $cid keeper")
      ms.filter(_._1 != cid).foreach(m => assert(!kept.contains(m._1), s"dropped ${m._1}"))
    }
    val nClusters = clusters.map(_._2).distinct.length
    assert(kept.size.toLong === total - clusters.length + nClusters)
    val clusteredIds = clusters.map(_._1).toSet
    kept.foreach { case (id, sz) =>
      if (!clusteredIds.contains(id)) assert(sz === 1L)
    }
  }

  test("dedup_keep_minhash keep-set equals the ngram-edged dedup_keep on sf0.001") {
    def asMap(df: org.apache.spark.sql.DataFrame): Map[Long, Long] =
      df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val ngram = asMap(Cluster.dedupKeep(spark, sfDir))
    val minhash = asMap(Cluster.dedupKeepMinhash(spark, sfDir))
    assert(ngram.nonEmpty)
    assert(minhash === ngram)
  }

  test("dedup_keep_tfidf: keep partition holds and no weighted edge survives whole on sf0.001") {
    val kept = Cluster.dedupKeepTfidf(spark, sfDir).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val docs = graft.core.Tables.documents(spark, sfDir)
    val edges = graft.queries.Dedup.tfidfScoredOn(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(edges.nonEmpty, "sf0.001 must plant weighted near-dup edges")
    // survivor-exclusivity: a weighted edge joins its endpoints into
    // one cluster, so at most one endpoint may survive
    edges.foreach { case (a, b) =>
      assert(!(kept.contains(a) && kept.contains(b)),
        s"edge ($a,$b) survived whole — keep must collapse it")
    }
    // partition accounting: survivors' cluster sizes sum to the corpus
    assert(kept.values.sum === docs.count())
    // dedup happened: strictly fewer survivors than docs
    assert(kept.size < docs.count().toInt)
  }

  test("dedupKeepFrom with minhash edges keeps min-id per planted group") {
    val a = "alpha bravo charlie delta echo foxtrot golf hotel india juliet kilo lima " +
      "mike november oscar papa quebec romeo sierra tango uniform victor whiskey xray yankee zulu"
    val b = "one two three four five six seven eight nine ten eleven twelve thirteen " +
      "fourteen fifteen sixteen seventeen eighteen nineteen twenty twentyone twentytwo twentythree"
    val corpus = Seq(
      (0L, a), (1L, a.replace("zulu", "zed")), (2L, a), // group -> keep 0
      (10L, b), (11L, b.replace("twenty", "score")),    // group -> keep 10
      (30L, "completely unrelated text about databases"), (31L, ""))
      .toDF("doc_id", "text")
    val kept = Cluster.dedupKeepFrom(corpus,
      Dedup.minhashScored(corpus).filter(col("jac") >= 0.6).select("doc_a", "doc_b"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(kept === Map(0L -> 3L, 10L -> 2L, 30L -> 1L, 31L -> 1L))
  }

  test("dedupKeepCentralFrom keeps the medoid, not the min id") {
    // star: hub 5 is a near-dup of 1, 2, 3 (high jac each); the spokes
    // are only weakly similar to each other, so the hub's summed
    // strength dominates — the medoid rule must keep 5 even though the
    // min-id rule would keep 1. Planted as explicit scored edges so the
    // geometry is exact.
    val docs = Seq(1L, 2L, 3L, 5L, 9L).toDF("doc_id")
    val edges = Seq(
      (1L, 5L, 0.9), (2L, 5L, 0.9), (3L, 5L, 0.9),
      (1L, 2L, 0.6), (1L, 3L, 0.6), (2L, 3L, 0.6))
      .toDF("doc_a", "doc_b", "jac")
    val kept = Cluster.dedupKeepCentralFrom(docs, edges)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // hub strength 2.7 > spoke strength 0.9+0.6+0.6=2.1; doc 9 unclustered
    assert(kept === Map(5L -> 4L, 9L -> 1L))
  }

  test("dedup_keep_central keeps one doc per cluster and ranks by strength on sf0.001") {
    import org.apache.spark.sql.expressions.Window
    val docs = graft.core.Tables.documents(spark, sfDir)
    val scored = Dedup.ngramScored(docs).filter(col("jac") >= 0.6)
    val minId = Cluster.dedupKeepFrom(docs, scored.select("doc_a", "doc_b"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val central = Cluster.dedupKeepCentral(spark, sfDir)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // same clusters → same survivor COUNT and same cluster-size
    // multiset; only the identity of clustered survivors may differ
    assert(central.size === minId.size)
    assert(central.values.toSeq.sorted === minId.values.toSeq.sorted)
    // every kept clustered doc is its cluster's argmax strength
    val clusters = Cluster.clustersOf(scored.select("doc_a", "doc_b"))
    val strength = scored.select(col("doc_a").as("doc_id"), col("jac"))
      .unionAll(scored.select(col("doc_b").as("doc_id"), col("jac")))
      .groupBy("doc_id").agg(sum("jac").as("strength"))
    val best = clusters.join(strength, "doc_id")
      .withColumn("rk", row_number().over(Window.partitionBy("cluster_id")
        .orderBy(round(col("strength"), 6).desc, col("doc_id").asc)))
      .filter(col("rk") === 1)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val keptClustered = central.keySet.filter(d => central(d) > 1L)
    assert(keptClustered === best)
  }

  test("dedup_keep_central_minhash keep-set equals the ngram-edged form on sf0.001") {
    val ngram = Cluster.dedupKeepCentral(spark, sfDir)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val minhash = Cluster.dedupKeepCentralMinhash(spark, sfDir)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(minhash === ngram)
  }

  test("split_leakfree: no near-dup cluster straddles a split boundary (sf0.001)") {
    val split = Cluster.splitLeakfree(spark, sfDir)
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    val docs = graft.core.Tables.documents(spark, sfDir)
    assert(split.size === docs.count())
    assert(split.values.toSet.subsetOf(Set("train", "validation", "test")))
    // every cluster lands wholly on one side
    val clusters = Cluster.clustersOf(
      Dedup.ngramScored(docs).filter(col("jac") >= 0.6).select("doc_a", "doc_b"))
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(clusters.nonEmpty)
    clusters.groupBy(_._2).foreach { case (cid, members) =>
      val splits = members.map(m => split(m._1)).toSet
      assert(splits.size === 1, s"cluster $cid straddles splits: $splits")
    }
  }

  test("dedup_cluster groups the sf0.001 corpus consistently with edges") {
    val out = Cluster.dedupCluster(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(out.nonEmpty, "expected at least one near-dup cluster in testdata")
    // cluster_id is the min member; n_docs consistent with the grouping
    val byCluster = out.groupBy(_._2)
    byCluster.foreach { case (cid, ms) =>
      assert(ms.map(_._1).min === cid)
      assert(ms.forall(_._3 === ms.length.toLong))
    }
    // must equal union-find over the same threshold edges
    val edges = Dedup.ngramScored(graft.core.Tables.documents(spark, sfDir))
      .filter(col("jac") >= 0.6)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSeq
    assert(out.map(t => t._1 -> t._2).toMap === unionFind(edges))
  }

  private def bruteTriangles(edges: Seq[(Long, Long)]): Long = {
    val es = edges.map { case (a, b) => (math.min(a, b), math.max(a, b)) }.toSet
    val nodes = es.flatMap(e => Seq(e._1, e._2)).toSeq.sorted
    (for {
      i <- nodes.indices; j <- (i + 1) until nodes.length
      if es.contains((nodes(i), nodes(j)))
      k <- (j + 1) until nodes.length
      if es.contains((nodes(j), nodes(k))) && es.contains((nodes(i), nodes(k)))
    } yield 1).size.toLong
  }

  test("triangle census ≡ brute force on planted graphs incl. a hub") {
    import spark.implicits._
    // K4 (4 triangles) + a path (0) + a 6-spoke star hub (0 triangles,
    // 15 wedges — exercises the degree orientation: the hub must not
    // generate wedges, its spokes must)
    val k4 = for (a <- 0L to 3L; b <- (a + 1) to 3L) yield (a, b)
    val path = Seq((10L, 11L), (11L, 12L), (12L, 13L))
    val star = (21L to 26L).map(x => (20L, x))
    val edges = k4 ++ path ++ star
    val got = Cluster.triangleCountOf(edges.toDF("doc_a", "doc_b")).collect()(0)
    assert(got.getLong(0) === edges.length.toLong)
    assert(got.getLong(2) === bruteTriangles(edges))
    assert(got.getLong(2) === 4L)
    // wedge total: K4 has 4*C(3,2)=12, path 2, star C(6,2)=15 + 6 spokes' C(1,2)=0
    assert(got.getLong(1) === 12L + 2L + 15L)
  }

  test("triangle_count ≡ brute force over the sf0.001 near-dup edges") {
    val edges = Dedup.ngramScored(graft.core.Tables.documents(spark, sfDir))
      .filter(col("jac") >= 0.6)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSeq
    val got = Cluster.triangleCount(spark, sfDir).collect()(0)
    assert(got.getLong(2) === bruteTriangles(edges))
    assert(got.getLong(0) === edges.length.toLong)
  }

  test("triangle_count_minhash census equals the ngram-edged census on sf0.001") {
    val ngram = Cluster.triangleCount(spark, sfDir).collect()(0).toSeq
    val mh = Cluster.triangleCountMinhash(spark, sfDir).collect()(0).toSeq
    assert(mh === ngram)
  }

  test("kcore ≡ sequential peel reference; peel converged at test SF") {
    val edges = Dedup.ngramScored(
        graft.core.Tables.documents(spark, sfDir))
      .filter(col("jac") >= 0.6)
      .select("doc_a", "doc_b")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    var sym = edges.flatMap { case (a, b) => Seq((a, b), (b, a)) }
    for (_ <- 1 to Cluster.KcoreRounds) {
      val keep = sym.groupBy(_._1).collect {
        case (n, es) if es.size >= Cluster.KcoreK => n
      }.toSet
      sym = sym.filter { case (s, t) => keep(s) && keep(t) }
    }
    val ref = sym.groupBy(_._1).map { case (n, es) => n -> es.size.toLong }
    val got = Cluster.kcore(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(got === ref)
    assert(got.nonEmpty, "near-dup graph at sf0.001 should have a 2-core")
    // the fixed 8 rounds reached the fixpoint here: min degree >= k
    assert(ref.values.forall(_ >= Cluster.KcoreK))
    // synthetic shape check: peeling drops something on a path + clique mix
    val mixed = Seq((1L, 2L), (2L, 3L), (3L, 4L), // path: fully peels
      (10L, 11L), (11L, 12L), (12L, 10L)) // triangle: survives intact
    val core = Cluster.kcoreOf(mixed.toDF("doc_a", "doc_b"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(core === Map(10L -> 2L, 11L -> 2L, 12L -> 2L))
  }

  test("kcore_minhash ≡ ngram-edged kcore on sf0.001") {
    val ngram = Cluster.kcore(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val mh = Cluster.kcoreMinhash(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(mh === ngram)
  }

  test("spark.graft.checkpointDir switches lineage truncation to reliable checkpoint()") {
    // a path graph forces several contraction rounds through .stable
    val edges = (0L until 12L).map(i => (i, i + 1))
    // checkpoint part files under a root (setCheckpointDir adds an app subdir)
    def rddFiles(f: java.io.File): Long =
      if (f.isDirectory) f.listFiles().map(rddFiles).sum
      else if (f.getName.startsWith("part-")) 1L else 0L
    val base = ccStarOf(edges)
    val dir = java.nio.file.Files.createTempDirectory("graft_ckpt").toString
    spark.conf.set("spark.graft.checkpointDir", dir)
    try {
      assert(ccStarOf(edges) === base) // same labels through the reliable path
      // the truncation really went through checkpoint(): files landed
      // under the configured root
      assert(rddFiles(new java.io.File(dir)) > 0, s"no checkpoint files under $dir")
    } finally spark.conf.unset("spark.graft.checkpointDir")
    // label propagation checkpoints every 4th round: a 12-hop path runs
    // 12 rounds, so its reliable cuts land under a fresh configured root
    val ccBase = ccOf(edges)
    assert(ccBase === unionFind(edges))
    val ccDir = java.nio.file.Files.createTempDirectory("graft_cc_ckpt").toString
    spark.conf.set("spark.graft.checkpointDir", ccDir)
    try {
      assert(ccOf(edges) === ccBase)
      assert(rddFiles(new java.io.File(ccDir)) > 0, s"no checkpoint files under $ccDir")
    } finally spark.conf.unset("spark.graft.checkpointDir")
  }

  /** Sequential synchronous LPA reference: plurality neighbor label,
    * ties to the smallest, fixed rounds — labelPropOf's contract.
    */
  private def lpaRef(edges: Seq[(Long, Long)], rounds: Int): Map[Long, Long] = {
    val sym = edges.flatMap { case (a, b) => Seq((a, b), (b, a)) }
    val adj = sym.groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    var labels = adj.keys.map(n => n -> n).toMap
    for (_ <- 1 to rounds) {
      labels = adj.map { case (n, nbrs) =>
        val counts = nbrs.groupBy(labels).view.mapValues(_.size).toMap
        val maxC = counts.values.max
        n -> counts.collect { case (l, c) if c == maxC => l }.min
      }
    }
    labels
  }

  test("label_prop ≡ sequential synchronous LPA; cliques collapse to min-id communities") {
    import spark.implicits._
    // two triangles joined by one weak bridge: LPA keeps them as two
    // communities (the bridge never reaches plurality), where CC would
    // merge them into one component — the operator's reason to exist
    val planted = Seq((1L, 2L), (2L, 3L), (3L, 1L),
      (10L, 11L), (11L, 12L), (12L, 10L), (3L, 10L))
    val got = Cluster.labelPropOf(planted.toDF("doc_a", "doc_b"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(got === lpaRef(planted, Cluster.LpRounds))
    assert(got.values.toSet.size === 2, s"expected 2 communities, got $got")
    // real-graph equivalence at sf0.001
    val edges = Dedup.ngramScored(graft.core.Tables.documents(spark, sfDir))
      .filter(col("jac") >= 0.6).select("doc_a", "doc_b")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val ref = lpaRef(edges, Cluster.LpRounds)
    val real = Cluster.labelProp(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(real === ref)
    assert(real.nonEmpty)
  }

  test("dedup_keep_priority keeps the highest-priority source, not the min id") {
    import spark.implicits._
    // cluster {10, 11, 12}: min id 10 is src5; 11 is src2 (highest
    // priority) → survivor must be 11. Singleton 20 survives as-is.
    val docs = Seq((10L, "src5"), (11L, "src2"), (12L, "src9"), (20L, "src0"))
      .toDF("doc_id", "source")
    val edges = Seq((10L, 11L), (11L, 12L)).toDF("doc_a", "doc_b")
    val got = Cluster.dedupKeepPriorityFrom(docs, edges)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(got === Map(11L -> 3L, 20L -> 1L))
    // priority ties (same source rank) break to min doc_id
    val tied = Seq((10L, "src3"), (11L, "src3"), (20L, "src0"))
      .toDF("doc_id", "source")
    val got2 = Cluster.dedupKeepPriorityFrom(tied,
        Seq((10L, 11L)).toDF("doc_a", "doc_b"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(got2 === Map(10L -> 2L, 20L -> 1L))
  }

  test("dedup_keep_priority_minhash ≡ ngram-edged form on sf0.001") {
    val ngram = Cluster.dedupKeepPriority(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val mh = Cluster.dedupKeepPriorityMinhash(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(mh === ngram && mh.nonEmpty)
  }

  test("bfsOf: planted path graph gets exact hops and nearest roots") {
    // 1-2-3-4-5-6 path plus isolated seed 9; seeds {1, 9}.
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L), (5L, 6L))
      .toDF("doc_a", "doc_b")
    val seeds = Seq(1L, 9L).toDF("doc_id")
    val got = Cluster.bfsOf(seeds, edges)
      .collect().map(r => (r.getLong(0), (r.getInt(1), r.getLong(2)))).toMap
    // BfsRounds = 4 ⇒ node 6 (5 hops away) is NOT reached
    assert(got === Map(
      1L -> (0, 1L), 9L -> (0, 9L), 2L -> (1, 1L), 3L -> (2, 1L),
      4L -> (3, 1L), 5L -> (4, 1L)))

    // two seeds: min hops wins; equal hops tie to the smaller root
    val got2 = Cluster.bfsOf(Seq(1L, 3L).toDF("doc_id"), edges)
      .collect().map(r => (r.getLong(0), (r.getInt(1), r.getLong(2)))).toMap
    assert(got2(2L) === (1, 1L)) // 1 hop from both seeds → root ties to 1
    assert(got2(4L) === (1, 3L))
    assert(got2(6L) === (3, 3L))
  }

  test("graph_bfs_minhash ≡ ngram-edged graph_bfs on sf0.001") {
    val ngram = Cluster.graphBfs(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    val mh = Cluster.graphBfsMinhash(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2))).toSet
    assert(mh === ngram && mh.nonEmpty)
  }

  test("graph_stats ≡ Scala recompute from the edge list") {
    val edges = graft.queries.Dedup.ngramScored(
        graft.core.Tables.documents(spark, sfDir))
      .filter(col("jac") >= 0.6)
      .select("doc_a", "doc_b").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val deg = (edges.map(_._1) ++ edges.map(_._2))
      .groupBy(identity).view.mapValues(_.length).toMap
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElse(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    edges.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val comps = deg.keys.groupBy(find).view.mapValues(_.size).toMap
    val r = Cluster.graphStats(spark, sfDir).collect().head
    assert(r.getLong(0) === deg.size.toLong)           // n_nodes
    assert(r.getLong(1) === edges.length.toLong)       // n_edges
    assert(r.getLong(2) === deg.values.max.toLong)     // max_degree
    assert(r.getDouble(3) ===
      math.floor(deg.values.sum.toDouble / deg.size * 10000 + 0.5) / 10000.0)
    assert(r.getLong(4) === comps.size.toLong)         // n_components
    assert(r.getLong(5) === comps.values.max.toLong)   // largest
  }

  test("graph_adamic_adar: predicted links are non-edges with correct AA scores") {
    import org.apache.spark.sql.functions._
    // sequential reference over the same co-purchase graph
    val items = graft.core.Tables.lineitem(spark, sfDir)
      .select("l_orderkey", "l_partkey").collect()
      .map(r => (r.getLong(0), r.getLong(1))).distinct
    val pairCnt = items.groupBy(_._1).values.flatMap { basket =>
      val ps = basket.map(_._2).sorted
      for (i <- ps.indices; j <- i + 1 until ps.length) yield (ps(i), ps(j))
    }.groupBy(identity).view.mapValues(_.size)
    val edges = pairCnt.filter(_._2 >= 2).keys.toSet
    val adj = edges.toSeq.flatMap { case (a, b) => Seq(a -> b, b -> a) }
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val expected = (for {
      (z, ns) <- adj.toSeq; u <- ns; v <- ns if u < v
      if !edges((u, v))
    } yield ((u, v), math.floor(1e9 / math.log(adj(z).size)).toLong))
      .groupBy(_._1).view
      .mapValues(ts => (ts.size.toLong,
        math.floor(ts.map(_._2).sum / 1e5 + 0.5) / 1e4)).toMap
    val got = Cluster.graphAdamicAdar(spark, sfDir).collect()
      .map(r => ((r.getLong(0), r.getLong(1)), (r.getLong(2), r.getDouble(3))))
    assert(got.nonEmpty)
    got.foreach { case (pair, scored) =>
      assert(!edges(pair), s"$pair is already an edge")
      assert(expected(pair) === scored, s"$pair score mismatch")
    }
    // top-50 really is the top of the reference ranking
    val topRef = expected.toSeq
      .sortBy { case ((a, b), (_, s)) => (-s, a, b) }.take(got.length)
      .map { case (p, (c, s)) => (p, (c, s)) }
    assert(got.toSeq === topRef)
  }

  test("label_prop_minhash ≡ ngram-edged label_prop on sf0.001") {
    val ngram = Cluster.labelProp(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val mh = Cluster.labelPropMinhash(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(mh === ngram)
  }

  test("graph_modularity equals manual Newman-Girvan over the LP labels") {
    val edges = Dedup.minhashScored(
        graft.core.Tables.documents(spark, sfDir), 0.6)
      .filter(col("jac") >= 0.6).select("doc_a", "doc_b").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val labels = Cluster.labelPropOf(Dedup.minhashScored(
        graft.core.Tables.documents(spark, sfDir), 0.6)
      .filter(col("jac") >= 0.6).select("doc_a", "doc_b")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val m = edges.length.toLong
    val ein = edges.filter { case (a, b) => labels(a) == labels(b) }
      .groupBy { case (a, _) => labels(a) }
      .map { case (c, g) => c -> g.length.toLong }
    val deg = edges.flatMap { case (a, b) => Seq(labels(a), labels(b)) }
      .groupBy(identity).map { case (c, g) => c -> g.length.toLong }
    val got = Cluster.graphModularity(spark, sfDir).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getLong(5))).toMap
    assert(got.size == deg.size)
    var tot = BigInt(0)
    deg.foreach { case (c, d) =>
      val e = ein.getOrElse(c, 0L)
      val contrib = 4 * m * e - d * d
      val (ge, gd, gc, gm, _) = got(c)
      assert(ge == e && gd == d && gc == contrib && gm == m, s"community $c")
      tot += contrib
    }
    val q = (tot * 1000000 / (BigInt(4) * BigInt(m) * BigInt(m))).toLong
    got.values.foreach { case (_, _, _, _, gq) => assert(gq == q) }
    // modularity is bounded: Q in [-0.5, 1]
    assert(q >= -500000L && q <= 1000000L)
  }

  test("graph_assortativity equals exact-moment Pearson on endpoint degrees") {
    val edges = Dedup.minhashScored(
        graft.core.Tables.documents(spark, sfDir), 0.6)
      .filter(col("jac") >= 0.6).select("doc_a", "doc_b").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val dir = edges ++ edges.map { case (a, b) => (b, a) }
    val deg = dir.groupBy(_._1).map { case (n, g) => n -> g.length.toLong }
    val n = BigInt(dir.length)
    val sx = dir.map(e => BigInt(deg(e._1))).sum
    val sxx = dir.map(e => BigInt(deg(e._1)) * deg(e._1)).sum
    val sxy = dir.map(e => BigInt(deg(e._1)) * deg(e._2)).sum
    val exp = math.floor((n * sxy - sx * sx).toDouble
      / (n * sxx - sx * sx).toDouble * 1e6 + 0.5).toLong
    val r = Cluster.graphAssortativity(spark, sfDir).collect()(0)
    assert(r.getLong(0) == edges.length)
    assert(r.getLong(1) == sx.toLong)
    assert(r.getLong(2) == exp, s"r ${r.getLong(2)} vs $exp")
    // a correlation is bounded
    assert(r.getLong(2) >= -1000000L && r.getLong(2) <= 1000000L)
  }
}
