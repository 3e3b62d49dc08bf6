package graft.queries

import org.apache.spark.HashPartitioner
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.types.{LongType, StructField, StructType}
import graft.core.{Checkpoints, Tables}
import graft.core.Checkpoints.StableOps

/** Duplicate-cluster formation ([EXT] — SURVEY.md §0): candidate-pair
  * producers (n-gram Jaccard, MinHash, SimHash — queries/Dedup.scala)
  * find similar PAIRS; a training-data pipeline then needs the
  * transitive closure — "keep one doc per duplicate CLUSTER". That is
  * connected components over the similarity graph.
  *
  * Scale design: min-label propagation — per round, every node adopts
  * the smallest label among itself and its neighbors — run as an RDD
  * fixpoint. The symmetrized adjacency is built once, hash-partitioned
  * by node and persisted; each round zips the (co-partitioned) label
  * table against it, shuffles one map-side-combined min per node
  * (linear in |E|), and counts the labels that changed: one Spark job
  * per round, with no query planning inside the loop. The round count
  * is the graph diameter + 1; near-dup graphs are unions of small
  * dense cliques (diameter ≈ 2-4), so at 100 TB this runs a handful of
  * linear shuffles; the edge list is the MinHash candidate set (∝ true
  * dups), never n². Every 4th round is a reliable checkpoint
  * ([[graft.core.Checkpoints.stableLoop]]; `spark.graft.checkpointDir`
  * points it at durable shared storage — the executor-loss recovery
  * story) so deep graphs keep a bounded lineage. Cluster sizes are
  * fused onto the converged labels with one co-partitioned count, and
  * the result is a frame over a single ExistingRDD leaf.
  *
  * Spark 4's recursive CTE (see Advanced.recursiveCte) could express
  * the closure too, but it materializes reachable-PAIR state — O(k²)
  * per k-node cluster — where both algorithms here carry one label per
  * node; keep CTE recursion for hierarchies, not components.
  */
object Cluster {

  /** Connected components of an undirected graph. Input: first two
    * columns of `edges` are the (src, dst) endpoint ids (integral;
    * rows with a null endpoint are dropped). Output: (node,
    * cluster_id) — one row per node incident to at least one edge,
    * cluster_id = min node id in the component (deterministic,
    * partition-layout-independent) — as a frame over the converged
    * label RDD of [[componentLabels]].
    */
  def connectedComponents(edges: DataFrame): DataFrame =
    edges.sparkSession.createDataFrame(
      componentLabels(edges).map { case (n, l) => Row(n, l) },
      StructType(Seq(StructField("node", LongType, nullable = false),
        StructField("cluster_id", LongType, nullable = false))))

  /** Min-label propagation run to its fixpoint over pair RDDs: the
    * converged (node, min node id of its component) table,
    * hash-partitioned by node. Labels strictly decrease until they
    * settle, so the loop ends within diameter + 1 rounds; each round
    * is one Spark job (zip against the adjacency, map-side-combined
    * min shuffle, count of the labels that changed). Every 4th round
    * is a reliable checkpoint ([[Checkpoints.stableLoop]]) so the
    * lineage of a deep graph stays bounded. Each generation is freed
    * once its successor is materialized: the successor recomputes from
    * its own shuffle output, never through the freed generation.
    */
  private def componentLabels(edges: DataFrame): RDD[(Long, Long)] = {
    val s = edges.sparkSession
    val part = new HashPartitioner(s.conf.get("spark.sql.shuffle.partitions").toInt)
    val Seq(c0, c1) = edges.columns.take(2).toSeq
    // Symmetrize once into a node-partitioned adjacency list; every
    // round zips the label table against it in place, so only the
    // per-neighbor label messages shuffle.
    val adj = edges.select(col(c0).cast("long"), col(c1).cast("long")).na.drop().rdd
      .flatMap { r => val (a, b) = (r.getLong(0), r.getLong(1)); Iterator((a, b), (b, a)) }
      .groupByKey(part)
      .mapValues(_.toArray.distinct)
      .persist()
    // Seed with min(self, neighbors) — the result round 1 would produce
    // from identity labels, narrow over the adjacency, so clique-shaped
    // near-dup graphs converge in the first (confirming) round.
    var labels: RDD[(Long, Long)] = adj.mapPartitions(
      _.map { case (u, ns) => (u, math.min(u, ns.min)) }, preservesPartitioning = true)
    var prev: Option[RDD[(Long, (Long, Long))]] = None
    var round = 0
    var changed = 1L
    while (changed > 0) {
      round += 1
      // Value = (new label, old label): each node also messages itself
      // its current label in the second slot, so the change count needs
      // no join against the previous generation.
      val step = adj.zipPartitions(labels) { (as, ls) =>
        val own = new scala.collection.mutable.LongMap[Long]
        ls.foreach { case (u, l) => own(u) = l }
        as.flatMap { case (u, ns) =>
          val l = own(u)
          Iterator.single((u, (l, l))) ++ ns.iterator.map(v => (v, (l, Long.MaxValue)))
        }
      }.reduceByKey(part, (a, b) => (math.min(a._1, b._1), math.min(a._2, b._2)))
      if (round % 4 == 0) Checkpoints.stableLoop(step, s) else step.persist()
      changed = step.filter { case (_, (l, old)) => l < old }.count()
      prev.foreach(_.unpersist(false))
      prev = Some(step)
      labels = step.mapValues(_._1)
    }
    prev.foreach(_.unpersist(false))
    adj.unpersist(false)
    labels
  }

  /** Connected components by alternating large-star / small-star
    * contraction — O(log n) rounds regardless of graph DIAMETER
    * (Kiveris et al., "Connected Components in MapReduce and Beyond"),
    * vs [[connectedComponents]]'s O(diameter) rounds. Near-dup graphs
    * are shallow (label propagation wins on constants); chains —
    * citation/link graphs, session stitching — are deep: use this one.
    * Each round is two key-partitioned agg+join passes, linear in |E|.
    *
    * large-star (per node u): attach every neighbor v > u to
    * m = min(neighbors ∪ u). small-star (per node u over min-oriented
    * edges): attach u and all smaller neighbors to their minimum.
    * Fixpoint = disjoint stars centered at component minima.
    */
  def connectedComponentsLogStar(edges: DataFrame, maxIter: Int = 25): DataFrame = {
    val Seq(c0, c1) = edges.columns.take(2).toSeq
    var e = edges.select(col(c0).cast("long").as("u"), col(c1).cast("long").as("v"))
      .filter(col("u") =!= col("v")).distinct().stable
    val nodes = e.select(col("u").as("node")).union(e.select(col("v").as("node")))
      .distinct().stable

    // fixpoint signature: (|E|, Σu, Σv) — invariant exactly at the
    // star state (rounds strictly shrink the paper's potential).
    def sig(df: DataFrame): String = {
      val r = df.agg(count(lit(1)),
        sum(col("u").cast("decimal(38,0)")), sum(col("v").cast("decimal(38,0)"))).head()
      s"${r.getLong(0)}|${r.getDecimal(1)}|${r.getDecimal(2)}"
    }

    def largeStar(es: DataFrame): DataFrame = {
      val sym = es.union(es.select(col("v").as("u"), col("u").as("v")))
      val m = sym.groupBy("u").agg(min("v").as("minv"))
        .select(col("u"), least(col("minv"), col("u")).as("m"))
      sym.join(m, "u").where(col("v") > col("u"))
        .select(col("v").as("u"), col("m").as("v")).distinct()
    }

    def smallStar(es: DataFrame): DataFrame = {
      val o = es.select(greatest(col("u"), col("v")).as("u"), least(col("u"), col("v")).as("v"))
      val m = o.groupBy("u").agg(min("v").as("m"))
      val rest = o.join(m, "u").where(col("v") =!= col("m"))
        .select(col("v").as("u"), col("m").as("v"))
      rest.union(m.select(col("u"), col("m").as("v"))).distinct()
    }

    var s = sig(e)
    var it = 0
    var done = e.isEmpty
    // sig() already materializes every round through the persisted
    // frame; the reliable checkpoint only bounds plan depth (each round
    // re-references its predecessor ~5× through the two star passes),
    // so stride 2 halves the checkpoint truncations — ≤ ~25 subtree
    // refs between cuts, same converged output. The ckpt decision is
    // taken AFTER the convergence test so the frame the caller receives
    // is always file-backed (a persist-round exit would otherwise leave
    // its recompute path chained to retired localCheckpoint blocks).
    val retired = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    while (!done && it < maxIter) {
      val raw = smallStar(largeStar(e)).persist()
      val s2 = sig(raw)
      done = s2 == s
      s = s2
      val isCkpt = it % 2 == 1 || done || it == maxIter - 1
      val e2 = if (isCkpt) raw.stableLoop else raw
      retired += e
      if (isCkpt) { retired.foreach(_.unpersist(false)); retired.clear() }
      e = e2
      it += 1
    }
    retired.foreach(_.unpersist(false))
    nodes.join(
        e.groupBy("u").agg(min("v").as("cluster_id")).withColumnRenamed("u", "node"),
        Seq("node"), "left")
      .select(col("node"), coalesce(col("cluster_id"), col("node")).as("cluster_id"))
  }

  /** (doc_id, cluster_id, n_docs) from a (doc_a, doc_b) edge list —
    * the shared CC + cluster-size tail of every dedup-cluster consumer.
    * Sizes come from a reduceByKey over the converged labels, re-keyed
    * by label once so the count and the attach-back join are both
    * co-partitioned (narrow). The result is a frame over one
    * ExistingRDD leaf that keeps the full RDD lineage: an evicted block
    * costs a recompute from the last round's shuffle output, never a
    * dead frame.
    */
  def clustersOf(edges: DataFrame): DataFrame = {
    val labels = componentLabels(edges)
    val byLabel = labels.map(_.swap).partitionBy(labels.partitioner.get)
    val sizes = byLabel.mapValues(_ => 1L).reduceByKey(_ + _)
    edges.sparkSession.createDataFrame(
      byLabel.join(sizes).map { case (cid, (node, n)) => Row(node, cid, n) },
      StructType(Seq("doc_id", "cluster_id", "n_docs")
        .map(StructField(_, LongType, nullable = false))))
  }

  /** Near-duplicate clusters on `documents`: edges = doc pairs with
    * exact 3-gram Jaccard >= 0.6 (the oracle-able edge producer — the
    * quadratic baseline; [[dedupClusterMinhash]] is the scale form).
    * One row per clustered doc: its cluster id and the cluster size.
    */
  def dedupCluster(s: SparkSession, d: String): DataFrame =
    clustersOf(Dedup.ngramScored(Tables.documents(s, d))
      .filter(col("jac") >= 0.6)
      .select(col("doc_a"), col("doc_b")))

  /** The SCALE form of [[dedupCluster]]: identical CC stage, but edges
    * come from [[Dedup.minhashScored]] — MinHash+LSH candidates verified
    * with exact Jaccard and thresholded at the same 0.6, so cost is
    * linear in corpus + true near-dup pairs instead of quadratic in
    * co-shingled docs. Exact-duplicate groups are always recovered
    * (identical docs ⇒ identical signatures ⇒ same band buckets);
    * borderline pairs follow the LSH S-curve, so the cluster set is
    * spec-checked against the ngram-edged ground truth (ClusterSpec)
    * AND SQL-oracled outright — the md5/mod-P signature chain
    * reproduces bit-for-bit in DuckDB (Dedup.minhashBucketsSql).
    */
  def dedupClusterMinhash(s: SparkSession, d: String): DataFrame =
    clustersOf(Dedup.minhashScored(Tables.documents(s, d), 0.6)
      .filter(col("jac") >= 0.6)
      .select(col("doc_a"), col("doc_b")))

  /** The keep stage shared by both [[dedupKeep]] variants: every
    * document survives unless it belongs to a near-dup cluster and is
    * not that cluster's minimum doc_id. One left join + filter against
    * the (tiny — one row per CLUSTERED doc) cluster table; edge
    * producer is the caller's choice.
    */
  def dedupKeepFrom(documents: DataFrame, edges: DataFrame): DataFrame =
    documents.select(col("doc_id"))
      .join(clustersOf(edges), Seq("doc_id"), "left")
      .filter(col("cluster_id").isNull || col("doc_id") === col("cluster_id"))
      .select(col("doc_id"), coalesce(col("n_docs"), lit(1L)).as("cluster_size"))

  /** The terminal operator of the dedup pipeline (pairs → clusters →
    * CANONICAL CORPUS), oracle-able form: edges = the ngram producer so
    * the whole pipeline end-to-end sits under the DuckDB hash gate.
    * Output one row per surviving doc with its original cluster size
    * (1 = was unique). [[dedupKeepMinhash]] is the scale form.
    */
  def dedupKeep(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    dedupKeepFrom(docs, Dedup.ngramScored(docs)
      .filter(col("jac") >= 0.6)
      .select(col("doc_a"), col("doc_b")))
  }

  /** The SCALE form of [[dedupKeep]] — the linear end-to-end
    * canonical-corpus pipeline a 100 TB run actually executes:
    * MinHash+LSH candidate edges (cost ∝ corpus + true near-dups,
    * never n²) → linear-round connected components → one-join keep.
    * Keep-set equality with the ngram-edged form is spec-checked
    * (ClusterSpec) on sf0.001 and planted corpora, AND the operator
    * sits under its own DuckDB hash gate (the md5/mod-P signature
    * chain reproduces in SQL — see Dedup.minhashBucketsSql).
    */
  def dedupKeepMinhash(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    dedupKeepFrom(docs, Dedup.minhashScored(docs, 0.6)
      .filter(col("jac") >= 0.6)
      .select(col("doc_a"), col("doc_b")))
  }

  /** The WEIGHTED member of the keep family: canonical corpus over
    * tf·idf-cosine edges ([[Dedup.tfidfScoredOn]] at its 0.6 emit
    * threshold) — dedups by WEIGHTED overlap, so rare-passage reuse
    * collapses into one survivor where boilerplate-only overlap does
    * not (set Jaccard ties them; see dedup_tfidf). Same CC + min-id
    * keep tail as the other edge producers; cost = the Σdf²-capped
    * weighted pair producer + edge-linear rounds.
    */
  def dedupKeepTfidf(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    dedupKeepFrom(docs,
      Dedup.tfidfScoredOn(docs).select(col("doc_a"), col("doc_b")))
  }

  /** Quality-aware survivor selection: keep each cluster's MEDOID —
    * the doc with the highest summed similarity (Jaccard) to its
    * cluster peers — instead of the arbitrary min doc_id. In a real
    * pipeline the min-id survivor can be the one truncated or
    * boilerplate-padded variant; the medoid is the most representative
    * copy by construction. Ties (and exact-duplicate clusters, where
    * all strengths are equal) break to min doc_id. Strength ranks on
    * round(strength, 6): the per-doc edge multiset is deterministic,
    * but float addition order is not associative, so ranking on the
    * raw double would let a 1-ulp reassociation flip survivors
    * between runs (and vs the SQL oracle).
    *
    * Scale design: strength is one groupBy over the thresholded edge
    * list (|E| rows, partial-agg'd); the per-cluster argmax is a
    * window over one row per CLUSTERED doc — both ∝ true near-dup
    * volume, never corpus². Edge producer is the caller's choice,
    * same contract as [[dedupKeepFrom]].
    */
  def dedupKeepCentralFrom(documents: DataFrame, scoredEdges: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // The edge producer feeds BOTH the CC stage and the strength agg
    // (twice more for the two union legs); materialize it once —
    // |E| ∝ true near-dup volume, the same budget the CC stage already
    // persists for its symmetrized copy. Without this the (expensive)
    // candidate pipeline behind scoredEdges re-runs three times.
    val edges = scoredEdges.select(col("doc_a"), col("doc_b"), col("jac"))
      .stable
    val clusters = clustersOf(edges.select("doc_a", "doc_b"))
    val strength = edges.select(col("doc_a").as("doc_id"), col("jac"))
      .unionAll(edges.select(col("doc_b").as("doc_id"), col("jac")))
      .groupBy("doc_id").agg(sum("jac").as("strength"))
    val surv = clusters.join(strength, "doc_id")
      .withColumn("rk", row_number().over(Window.partitionBy("cluster_id")
        .orderBy(round(col("strength"), 6).desc, col("doc_id").asc)))
      .filter(col("rk") === 1)
      .select(col("cluster_id"), col("doc_id").as("survivor"))
    documents.select(col("doc_id"))
      .join(clusters, Seq("doc_id"), "left")
      .join(surv, Seq("cluster_id"), "left")
      .filter(col("cluster_id").isNull || col("doc_id") === col("survivor"))
      .select(col("doc_id"), coalesce(col("n_docs"), lit(1L)).as("cluster_size"))
  }

  /** Oracle-able registration of [[dedupKeepCentralFrom]] over the
    * ngram edge producer (thresholded scored pairs); swap in
    * Dedup.minhashScored for the linear scale form exactly as
    * [[dedupKeepMinhash]] does for [[dedupKeep]].
    */
  def dedupKeepCentral(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    dedupKeepCentralFrom(docs, Dedup.ngramScored(docs).filter(col("jac") >= 0.6))
  }

  /** The SCALE form of [[dedupKeepCentral]]: medoid keep over
    * MinHash+LSH verified edges — linear candidate generation, same
    * exact-verified Jaccard weights, so where LSH recall is complete
    * the keep set is identical to the ngram-edged form (spec-checked
    * on sf0.001 and planted corpora); also under its own DuckDB hash
    * gate via the md5/mod-P signature chain.
    */
  def dedupKeepCentralMinhash(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    dedupKeepCentralFrom(docs, Dedup.minhashScored(docs, 0.6).filter(col("jac") >= 0.6))
  }

  /** Policy-driven survivor selection: keep each cluster's doc from
    * the HIGHEST-PRIORITY source (numeric source rank ascending —
    * "prefer the curated mirror over the crawl copy"), ties to min
    * doc_id. The survivor-selection policy is the third member of the
    * keep family (min-id [[dedupKeepFrom]], medoid
    * [[dedupKeepCentralFrom]], source-priority here) — real pipelines
    * choose per corpus. Integer rank + id ordering ⇒ fully
    * deterministic, no float anywhere.
    *
    * Scale design: identical envelope to [[dedupKeepCentralFrom]]
    * minus the strength agg — one window over one row per CLUSTERED
    * doc, joins carry (id, small-int) rows only.
    */
  def dedupKeepPriorityFrom(documents: DataFrame, edges: DataFrame): DataFrame = {
    val clusters = clustersOf(edges)
    val srcRank = regexp_replace(col("source"), "[^0-9]", "").cast("int")
    val surv = clusters
      .join(documents.select(col("doc_id"), srcRank.as("src_rank")), "doc_id")
      .withColumn("rk", row_number().over(Window.partitionBy("cluster_id")
        .orderBy(col("src_rank").asc, col("doc_id").asc)))
      .filter(col("rk") === 1)
      .select(col("cluster_id"), col("doc_id").as("survivor"))
    documents.select(col("doc_id"))
      .join(clusters, Seq("doc_id"), "left")
      .join(surv, Seq("cluster_id"), "left")
      .filter(col("cluster_id").isNull || col("doc_id") === col("survivor"))
      .select(col("doc_id"), coalesce(col("n_docs"), lit(1L)).as("cluster_size"))
  }

  /** Registered form over the ngram oracle edges; [[dedupKeepPriorityMinhash]]
    * is the linear scale path, per the module's standard pairing.
    */
  def dedupKeepPriority(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    dedupKeepPriorityFrom(docs, Dedup.ngramScored(docs)
      .filter(col("jac") >= 0.6).select(col("doc_a"), col("doc_b")))
  }

  def dedupKeepPriorityMinhash(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    dedupKeepPriorityFrom(docs, Dedup.minhashScored(docs, 0.6)
      .filter(col("jac") >= 0.6).select(col("doc_a"), col("doc_b")))
  }

  /** PageRank over a DIRECTED edge list (undirected graphs: symmetrize
    * before calling) — the centrality signal web-scale corpus
    * pipelines use for page-level quality weighting. Fixed-iteration
    * power method with damping and full dangling-node handling
    * (rank mass of out-degree-0 nodes redistributes uniformly).
    *
    * Scale shape: the out-degree-annotated edge list is partitioned on
    * src once and persisted — every iteration is one |E| join against
    * the (|V|-row) rank table, a partial-agg'd groupBy on dst, and one
    * tiny dangling-mass agg; persist + stride-4 checkpoint bound plan
    * depth, retired generations are freed eagerly. No driver-side
    * structure ever holds |V| or |E| rows — only the scalar dangling
    * mass crosses to the driver each round.
    */
  def pagerankOf(edges: DataFrame, iters: Int = 10, damping: Double = 0.85): DataFrame = {
    val Seq(sc0, dc0) = edges.columns.take(2).toSeq
    // Materialize the edge list ONCE — it feeds the node set, degrees,
    // the annotated join spine, and the dangling set; without this an
    // expensive producer (a near-dup candidate pipeline) re-runs for
    // each derivation. Numeric ids normalize to long; string nodes
    // (e.g. the TextRank word graph) pass through untouched.
    val keyT = edges.schema(sc0).dataType
    def norm(c: org.apache.spark.sql.Column) =
      if (keyT == org.apache.spark.sql.types.StringType) c else c.cast("long")
    val e = edges.select(norm(col(sc0)).as("src"), norm(col(dc0)).as("dst"))
      .stable
    val nodes = e.select(col("src").as("node"))
      .union(e.select(col("dst").as("node"))).distinct()
    val deg = e.groupBy("src").agg(count(lit(1)).as("outdeg"))
    // The rank table carries a static per-node dangling flag so the
    // per-round dangling-mass aggregate is a filter+agg over the
    // already-persisted/checkpointed ranks frame — no per-round join
    // against a separate dangling table (r14 verdict item 4: the
    // dmass subtree's per-round broadcast-build job was the round
    // latency on keywords_textrank/pagerank).
    val base = nodes.join(deg.withColumnRenamed("src", "node"), Seq("node"), "left")
      .select(col("node"), col("outdeg").isNull.as("dangl")).persist()
    // One setup pass gives |V| AND whether dangling nodes exist at
    // all. Both registered callers symmetrize their edge lists, so
    // every node has outdeg >= 1 and the dmass term is exactly
    // +0.0 every round — skipping it is arithmetic-identical and
    // removes the per-round 1-row broadcast (crossJoin) job outright.
    val Array(nL, nDangl) = base
      .agg(count(lit(1)), sum(when(col("dangl"), 1L).otherwise(0L)))
      .head().toSeq.map(v => Option(v).fold(0L)(_.asInstanceOf[Long])).toArray
    val n = nL.toDouble
    val hasDangling = nDangl > 0
    val ann = e.join(deg, "src").repartition(col("src")).persist()
    var ranks = base.select(col("node"), lit(1.0 / n).as("rank"), col("dangl"))
      .persist()
    val retired = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    for (i <- 1 to iters) {
      val contrib = ann.join(ranks.select(col("node").as("src"), col("rank")), "src")
        .groupBy("dst").agg(sum(col("rank") / col("outdeg")).as("in"))
        .withColumnRenamed("dst", "node")
      // ranks already spans the full node set, so it IS the left side
      // of the update join (the former separate `nodes` frame).
      var next =
        if (hasDangling) {
          // Dangling mass stays a 1-row DataFrame cross-joined
          // (broadcast) into the update — no per-iteration driver
          // action; built from the cached ranks frame directly.
          val dmass = ranks.filter(col("dangl"))
            .agg(coalesce(sum("rank"), lit(0.0)).as("dmass"))
          ranks.join(contrib, Seq("node"), "left")
            .crossJoin(dmass)
            .select(col("node"),
              (lit((1 - damping) / n) + lit(damping) * col("dmass") / lit(n) +
                lit(damping) * coalesce(col("in"), lit(0.0))).as("rank"),
              col("dangl"))
        } else
          ranks.join(contrib, Seq("node"), "left")
            .select(col("node"),
              (lit((1 - damping) / n) +
                lit(damping) * coalesce(col("in"), lit(0.0))).as("rank"),
              col("dangl"))
      val isCkpt = i % 4 == 0 || i == iters
      next = if (isCkpt) next.stableLoop else next.persist()
      retired += ranks
      if (isCkpt) { retired.foreach(_.unpersist(false)); retired.clear() }
      ranks = next
    }
    retired.foreach(_.unpersist(false))
    ann.unpersist(false); base.unpersist(false)
    ranks.select("node", "rank")
  }

  /** Registered PageRank: centrality over the symmetrized near-dup
    * graph (ngram edges >= 0.6), ranks rounded to 6 decimals so float
    * reassociation across runs cannot wobble the output. Under the
    * DuckDB gate (10 damped rounds unrolled as chained CTEs in the
    * oracle); PagerankSpec additionally asserts equality with a
    * local power iteration, dangling handling, and mass conservation.
    */
  def pagerank(s: SparkSession, d: String): DataFrame = {
    val und = Dedup.ngramScored(Tables.documents(s, d))
      .filter(col("jac") >= 0.6).select("doc_a", "doc_b")
    val sym = und.union(und.select(col("doc_b"), col("doc_a")))
    pagerankOf(sym)
      .select(col("node").as("doc_id"), round(col("rank"), 6).as("rank"))
  }

  /** Leak-free train/validation/test split: a near-dup CLUSTER is the
    * atomic unit of assignment, so two near-identical documents can
    * never land on opposite sides of the split (the classic eval-
    * leakage failure a plain per-doc split invites). The split key is
    * the cluster representative (min doc_id) for clustered docs and
    * the doc's own id otherwise, pushed through the same
    * multiplicative-hash bucketing as TextOps.sampleSplit — a pure
    * function of the key, so assignments are deterministic, append-
    * stable, and reproducible across engines. Cost on top of the
    * cluster table: one left join + a map.
    */
  def splitLeakfree(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val clusters = clustersOf(Dedup.ngramScored(docs)
      .filter(col("jac") >= 0.6)
      .select(col("doc_a"), col("doc_b")))
    val keyed = docs.select(col("doc_id"))
      .join(clusters, Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("cluster_id"), col("doc_id")).as("k"))
    keyed.select(col("doc_id"),
      TextOps.splitLabel(TextOps.hashBucket(col("k"))).as("split"))
  }

  /** Triangle census over an undirected (doc_a < doc_b) edge list:
    * edge/wedge/triangle counts + the global clustering coefficient —
    * the graph-density report that tells a dedup pipeline whether its
    * near-dup graph is clique-like (true duplicate groups) or
    * chain-like (threshold too loose).
    *
    * Scale shape (Suri-Vassilvitskii): edges are ORIENTED from the
    * (degree, id)-smaller endpoint to the larger, so every wedge is
    * generated at its lowest-degree vertex — the join fan-out per
    * vertex is bounded by its oriented out-degree (O(sqrt(|E|))
    * on any graph), not by its raw degree; the curse-of-the-last-
    * reducer hub never materializes its full wedge set. Each triangle
    * has exactly one vertex with two out-edges (the orientation is
    * acyclic), so the wedge-close equi-join counts each triangle
    * exactly once.
    */
  def triangleCountOf(edges: DataFrame): DataFrame = {
    // materialize once: feeds degrees, orientation, wedges, closing
    val e = edges.select(col("doc_a").cast("long").as("u"),
      col("doc_b").cast("long").as("v")).stable
    val deg = e.select(col("u").as("n")).unionAll(e.select(col("v").as("n")))
      .groupBy("n").agg(count(lit(1)).as("d"))
    val dir = e
      .join(deg.select(col("n").as("u"), col("d").as("du")), "u")
      .join(deg.select(col("n").as("v"), col("d").as("dv")), "v")
      .select(
        when(col("du") < col("dv") ||
          (col("du") === col("dv") && col("u") < col("v")), col("u"))
          .otherwise(col("v")).as("s"),
        when(col("du") < col("dv") ||
          (col("du") === col("dv") && col("u") < col("v")), col("v"))
          .otherwise(col("u")).as("t"))
      // eager checkpoint (not persist-then-unpersist-before-action,
      // which caches nothing): both sides of the wedge self-join read
      // the materialized oriented edges instead of re-running the two
      // degree joins
      .stable
    val wedges = dir.as("e1").join(dir.as("e2"),
        col("e1.s") === col("e2.s") && col("e1.t") < col("e2.t"))
      .select(col("e1.t").as("x"), col("e2.t").as("y")) // x < y by id
    val nTri = wedges
      .join(e.select(col("u").as("x"), col("v").as("y")), Seq("x", "y"))
      .agg(count(lit(1)).as("n_triangles"))
    val nEdges = e.agg(count(lit(1)).as("n_edges"))
    val nWedges = deg.agg(
      sum((col("d") * (col("d") - 1) / lit(2)).cast("long")).as("n_wedges"))
    val out = nEdges.crossJoin(nWedges).crossJoin(nTri)
      .select(col("n_edges"), col("n_wedges"), col("n_triangles"),
        round(when(col("n_wedges") > 0,
          col("n_triangles") * lit(3.0) / col("n_wedges")).otherwise(lit(0.0)), 6)
          .as("clustering_coeff"))
      // the census is ONE row — materialize it eagerly so the e/dir
      // checkpoint blocks can be freed now instead of accumulating for
      // the life of the driver (a long-lived session runs this many
      // times)
      .stable
    e.unpersist(false)
    dir.unpersist(false)
    out
  }

  /** Registered form: census of the same >= 0.6 near-dup graph the
    * cluster/keep family consumes (quadratic oracle edge producer by
    * design; swap in Dedup.minhashScored for the linear scale path
    * exactly as in dedupClusterMinhash).
    */
  def triangleCount(s: SparkSession, d: String): DataFrame =
    triangleCountOf(Dedup.ngramScored(Tables.documents(s, d))
      .filter(col("jac") >= 0.6)
      .select(col("doc_a"), col("doc_b")))

  /** Per-node LOCAL clustering coefficient (Watts & Strogatz '98) —
    * the node-level refinement of [[triangleCount]]'s global census:
    * lcc(v) = 2·tri(v) / (deg(v)·(deg(v)−1)), integer-micro via DIV.
    * In a near-dup graph high-degree/low-lcc nodes are the template
    * hubs (boilerplate bridging many otherwise-unrelated docs) while
    * lcc=1 nodes sit inside closed duplicate cliques — the triage
    * signal for keep-strategy choice.
    *
    * Scale shape: same degree-oriented wedge enumeration as
    * [[triangleCountOf]] (each triangle found once from its
    * lowest-degree corner — Σ min-degree wedges, the Latapy bound),
    * then one explode(3 corners) + count per node; the id-ordered
    * 3-join in the oracle enumerates the same set.
    */
  def graphLccOf(edges: DataFrame): DataFrame = {
    val e = edges.select(col("doc_a").cast("long").as("u"),
      col("doc_b").cast("long").as("v")).stable
    val deg = e.select(col("u").as("n")).unionAll(e.select(col("v").as("n")))
      .groupBy("n").agg(count(lit(1)).as("d"))
    val dir = e
      .join(deg.select(col("n").as("u"), col("d").as("du")), "u")
      .join(deg.select(col("n").as("v"), col("d").as("dv")), "v")
      .select(
        when(col("du") < col("dv") ||
          (col("du") === col("dv") && col("u") < col("v")), col("u"))
          .otherwise(col("v")).as("s"),
        when(col("du") < col("dv") ||
          (col("du") === col("dv") && col("u") < col("v")), col("v"))
          .otherwise(col("u")).as("t"))
      .stable
    val corners = dir.as("e1").join(dir.as("e2"),
        col("e1.s") === col("e2.s") && col("e1.t") < col("e2.t"))
      .select(col("e1.s").as("a"), col("e1.t").as("x"), col("e2.t").as("y"))
      .join(e.select(col("u").as("x"), col("v").as("y")), Seq("x", "y"))
      .select(explode(array(col("a"), col("x"), col("y"))).as("n"))
      .groupBy("n").agg(count(lit(1)).as("n_tri"))
    deg.join(corners, Seq("n"), "left")
      .select(col("n").as("node"), col("d").as("degree"),
        coalesce(col("n_tri"), lit(0L)).as("n_triangles"),
        when(col("d") >= 2,
          expr("(2 * coalesce(n_tri, 0) * 1000000) DIV (d * (d - 1))"))
          .otherwise(0L).as("lcc_micro"))
  }

  /** [[graphLccOf]] over the ngram ≥0.6 near-dup graph (the
    * triangle_count contract; minhashScored is the linear twin).
    */
  def graphLcc(s: SparkSession, d: String): DataFrame =
    graphLccOf(Dedup.ngramScored(Tables.documents(s, d))
      .filter(col("jac") >= 0.6)
      .select(col("doc_a"), col("doc_b")))

  /** The linear scale form of [[triangleCount]]: identical census over
    * MinHash+LSH verified edges — same >= 0.6 contract, cost linear in
    * corpus + true near-dup pairs (the standard quadratic-oracle /
    * minhash-scale-path pairing of this module).
    */
  def triangleCountMinhash(s: SparkSession, d: String): DataFrame =
    triangleCountOf(Dedup.minhashScored(Tables.documents(s, d), 0.6)
      .filter(col("jac") >= 0.6)
      .select(col("doc_a"), col("doc_b")))

  /** Peel rounds for [[kcoreOf]]. FIXED (no convergence test) so the
    * loop unrolls identically in both engines — the oracle runs the
    * same 8 rounds; KcoreSpec checks empirical convergence at test SF.
    */
  val KcoreRounds = 8

  /** k for the registered [[kcore]] entry: 2-cores of the near-dup
    * graph = the cyclic duplication neighborhoods (trees/chains of
    * borderline pairs peel away; template-family cliques survive) —
    * the "dense duplication hotspot" census a curation pass reviews.
    */
  val KcoreK = 2

  /** K-core decomposition by iterative peeling: drop nodes with
    * degree < k, restrict edges to survivors, repeat `rounds` times.
    * Output: surviving nodes with their within-core degree.
    *
    * Scale design: each round is one degree aggregation plus two
    * id-only joins (8-byte keys — document text never enters), all
    * hash-partitioned on node id; rounds are checkpointed via
    * [[graft.core.Checkpoints]] so lineage stays flat (reliable
    * `checkpoint()` when spark.graft.checkpointDir is set, the same
    * contract as the CC/PageRank loops). Work is edge-linear per
    * round with a FIXED round count — no driver-side convergence
    * action at all, unlike value-iteration loops.
    */
  def kcoreOf(edges: DataFrame, k: Int = KcoreK,
      rounds: Int = KcoreRounds): DataFrame = {
    var sym = edges
      .select(col("doc_a").cast("long").as("src"), col("doc_b").cast("long").as("dst"))
      .unionAll(edges
        .select(col("doc_b").cast("long").as("src"), col("doc_a").cast("long").as("dst")))
      .stable
    // Reliable checkpoint at stride 3 + last, persist() between (the
    // sssp/ppr pattern): each round references sym 3× (degree agg + two
    // keep joins), so an un-truncated stride-3 window holds ≤27 subtree
    // refs — bounded plan, and 8→3 checkpoint truncations per run (a
    // stableLoop is 2 jobs + a file write+read; the r14 baseline read
    // kcore at 2.9× its r13 pin after the every-round conversion).
    val retired = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    for (i <- 1 to rounds) {
      val keep = sym.groupBy("src").agg(count(lit(1)).as("deg"))
        .filter(col("deg") >= k).select("src")
      var next = sym
        .join(keep, "src")
        .join(keep.select(col("src").as("dst")), "dst")
        .select("src", "dst")
      val isCkpt = i % 3 == 0 || i == rounds
      next = if (isCkpt) next.stableLoop else next.persist()
      retired += sym
      if (isCkpt) { retired.foreach(_.unpersist(false)); retired.clear() }
      sym = next
    }
    retired.foreach(_.unpersist(false))
    val out = sym.groupBy("src").agg(count(lit(1)).as("core_deg"))
      .select(col("src").as("doc_id"), col("core_deg")).stable
    sym.unpersist(false)
    out
  }

  /** Registered form: 2-core of the same >= 0.6 near-dup graph the
    * cluster/triangle family consumes (quadratic oracle edge producer
    * by design; swap in Dedup.minhashScored for the linear scale path
    * exactly as in dedupClusterMinhash).
    */
  def kcore(s: SparkSession, d: String): DataFrame =
    kcoreOf(Dedup.ngramScored(Tables.documents(s, d))
      .filter(col("jac") >= 0.6)
      .select(col("doc_a"), col("doc_b")))

  /** The linear scale form of [[kcore]]: identical peel over
    * MinHash+LSH verified edges — the standard quadratic-oracle /
    * minhash-scale-path pairing of this module.
    */
  def kcoreMinhash(s: SparkSession, d: String): DataFrame =
    kcoreOf(Dedup.minhashScored(Tables.documents(s, d), 0.6)
      .filter(col("jac") >= 0.6)
      .select(col("doc_a"), col("doc_b")))

  /** Synchronous rounds for [[labelPropOf]] — fixed, so the output is
    * deterministic (LPA can oscillate; a fixed round count pins it)
    * and the loop unrolls into oracle CTEs.
    */
  val LpRounds = 4

  /** Label-propagation community detection (Raghavan et al. 2007)
    * over the near-dup graph: labels start as node ids; each round
    * every node adopts the most frequent label among its neighbors,
    * ties to the smallest label. Where connected components answer
    * "what is transitively linked", LPA splits a component into
    * densely-linked template families — the granularity a curation
    * review actually wants for "which boilerplate family is this".
    *
    * Scale design: per round one edge-linear join (labels keyed by
    * node id, 8-byte rows — text never moves) + one (node, label)
    * count + one per-node argmax window; rounds are checkpointed via
    * [[graft.core.Checkpoints]] exactly like the CC/kcore loops, with
    * a FIXED round count — no driver-side convergence action.
    * Determinism: counts are integers and ties break to the smallest
    * label, so the whole loop is integer-exact under the hash gate.
    */
  def labelPropOf(edges: DataFrame, rounds: Int = LpRounds): DataFrame = {
    val sym = edges
      .select(col("doc_a").cast("long").as("src"), col("doc_b").cast("long").as("dst"))
      .unionAll(edges
        .select(col("doc_b").cast("long").as("src"), col("doc_a").cast("long").as("dst")))
      .stable
    var labels = sym.select(col("src").as("node")).distinct()
      .withColumn("label", col("node")).stable
    val w = Window.partitionBy("src").orderBy(col("c").desc, col("label").asc)
    // Each round references labels ONCE (the dst join) — plan growth is
    // LINEAR, so per-round reliable checkpoints bought nothing but their
    // 2-jobs+file-I/O cost: stride 3 + last, persist() between (the
    // sssp/ppr pattern; same eviction-immunity at loop exit).
    val retired = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    for (i <- 1 to rounds) {
      var next = sym
        .join(labels.withColumnRenamed("node", "dst"), "dst")
        .groupBy("src", "label").agg(count(lit(1)).as("c"))
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .select(col("src").as("node"), col("label"))
      val isCkpt = i % 3 == 0 || i == rounds
      next = if (isCkpt) next.stableLoop else next.persist()
      retired += labels
      if (isCkpt) { retired.foreach(_.unpersist(false)); retired.clear() }
      labels = next
    }
    retired.foreach(_.unpersist(false))
    val sizes = labels.groupBy("label").agg(count(lit(1)).as("n_members"))
    val out = labels.join(sizes, "label")
      .select(col("node").as("doc_id"), col("label").as("community"),
        col("n_members")).stable
    labels.unpersist(false)
    sym.unpersist(false)
    out
  }

  /** Registered form: communities of the >= 0.6 near-dup graph
    * (quadratic oracle edge producer by design — the module's
    * standard pairing; [[labelPropMinhash]] is the linear scale path).
    */
  def labelProp(s: SparkSession, d: String): DataFrame =
    labelPropOf(Dedup.ngramScored(Tables.documents(s, d))
      .filter(col("jac") >= 0.6)
      .select(col("doc_a"), col("doc_b")))

  def labelPropMinhash(s: SparkSession, d: String): DataFrame =
    labelPropOf(Dedup.minhashScored(Tables.documents(s, d), 0.6)
      .filter(col("jac") >= 0.6)
      .select(col("doc_a"), col("doc_b")))

  /** Round bound for [[bfsOf]] — fixed so the loop unrolls into
    * oracle CTEs and the output is a pure function of the graph.
    */
  val BfsRounds = 4

  /** Multi-source bounded BFS over the near-dup graph — the
    * "contamination blast radius" query: starting from a flagged seed
    * set (here: every `src0` document, standing in for a
    * benchmark-contaminated source), label everything reachable
    * within [[BfsRounds]] hops with its distance and nearest seed
    * (min hops, ties to the smallest seed id). Span/benchmark
    * decontamination drops the seeds themselves; this answers the
    * follow-up a curation review actually asks — "what near-dups of
    * the contaminated docs are still in the corpus?".
    *
    * Scale design: per round ONE edge-linear equi-join on 8-byte node
    * ids (text never moves) + one per-node argmin window; the
    * distance frame never exceeds |V| rows because each round
    * re-deduplicates, and rounds are checkpointed like the CC/LPA
    * loops with a FIXED round count — no driver-side convergence
    * action. Integer hops + smallest-root tie-break ⇒ the whole loop
    * is integer-exact under the hash gate.
    */
  def bfsOf(seeds: DataFrame, edges: DataFrame, rounds: Int = BfsRounds): DataFrame = {
    val sym = edges
      .select(col("doc_a").cast("long").as("src"), col("doc_b").cast("long").as("dst"))
      .unionAll(edges
        .select(col("doc_b").cast("long").as("src"), col("doc_a").cast("long").as("dst")))
      .stable
    var dist = seeds
      .select(col("doc_id").cast("long").as("node"),
        lit(0).as("hops"), col("doc_id").cast("long").as("root"))
      .stable
    val w = Window.partitionBy("node").orderBy(col("hops"), col("root"))
    // dist is referenced 2× per round (frontier join + the union merge):
    // stride-2 checkpoints hold ≤4 subtree refs between truncations —
    // half the stableLoop jobs of the every-round form, same exit state.
    val retired = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    for (i <- 1 to rounds) {
      val next = dist
        .join(sym, dist("node") === sym("src"))
        .select(col("dst").as("node"), (col("hops") + 1).as("hops"), col("root"))
      var merged = dist.unionByName(next)
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1)
        .drop("rn")
      val isCkpt = i % 2 == 0 || i == rounds
      merged = if (isCkpt) merged.stableLoop else merged.persist()
      retired += dist
      if (isCkpt) { retired.foreach(_.unpersist(false)); retired.clear() }
      dist = merged
    }
    retired.foreach(_.unpersist(false))
    val out = dist.select(col("node").as("doc_id"),
      col("hops").cast("int").as("hops"), col("root"))
    sym.unpersist(false)
    out
  }

  /** Registered form: seeds = all `src0` docs, edges = the >= 0.6
    * n-gram near-dup graph (quadratic oracle edge producer by design;
    * [[graphBfsMinhash]] is the linear scale path).
    */
  def graphBfs(s: SparkSession, d: String): DataFrame =
    bfsOf(
      Tables.documents(s, d).filter(col("source") === "src0").select(col("doc_id")),
      Dedup.ngramScored(Tables.documents(s, d))
        .filter(col("jac") >= 0.6)
        .select(col("doc_a"), col("doc_b")))

  def graphBfsMinhash(s: SparkSession, d: String): DataFrame =
    bfsOf(
      Tables.documents(s, d).filter(col("source") === "src0").select(col("doc_id")),
      Dedup.minhashScored(Tables.documents(s, d), 0.6)
        .filter(col("jac") >= 0.6)
        .select(col("doc_a"), col("doc_b")))

  /** One-row GRAPH CENSUS of the near-dup graph — the summary a
    * dedup review reads before deciding thresholds: node/edge counts,
    * max/mean degree, component count and the largest component (a
    * giant component = threshold too low). Degrees and component
    * sizes are tiny aggregates over the id-only edge/label frames;
    * the three 1-row stat frames cross-join into the single census
    * row.
    */
  def graphStats(s: SparkSession, d: String): DataFrame = {
    val edges = Dedup.ngramScored(Tables.documents(s, d))
      .filter(col("jac") >= 0.6)
      .select(col("doc_a"), col("doc_b")).stable
    val sym = edges.select(col("doc_a").as("src"))
      .unionAll(edges.select(col("doc_b").as("src")))
    val deg = sym.groupBy("src").agg(count(lit(1)).as("dg"))
    val degStats = deg.agg(count(lit(1)).as("n_nodes"),
      max("dg").as("max_degree"),
      (floor(avg("dg") * 10000 + 0.5) / 10000.0).as("avg_degree"))
    val edgeCnt = edges.agg(count(lit(1)).as("n_edges"))
    val compSizes = clustersOf(edges)
      .select(col("cluster_id"), col("n_docs")).distinct()
    val compStats = compSizes.agg(count(lit(1)).as("n_components"),
      max("n_docs").as("largest_component"))
    val out = degStats.crossJoin(broadcast(edgeCnt))
      .crossJoin(broadcast(compStats))
      .select(col("n_nodes"), col("n_edges"), col("max_degree"),
        col("avg_degree"), col("n_components"), col("largest_component"))
    val collected = out.stable
    edges.unpersist(false)
    collected
  }

  /** Adamic-Adar link prediction (Adamic & Adar 2003) over the part
    * CO-PURCHASE graph (parts bought together in ≥ 2 orders — the
    * basket_pairs edge producer with a support prune; the near-dup
    * document graph is unusable here: its components are tiny cliques,
    * so every wedge closes and no link is predictable). For every
    * NON-edge (u,v) sharing a neighbor, score Σ_z 1/ln(deg(z)) over
    * common neighbors z — rare shared neighbors count more. Top 50
    * predicted links: the "customers who bought these also buy"
    * primitive.
    *
    * Determinism: each z's term is floor-quantized to an int64 at 1e-9
    * BEFORE the sum, so the aggregate is an order-independent integer
    * sum (q9's cancellation trick applied to float merge order); the
    * final score floor-rounds at 4dp. deg(z) ≥ 2 by construction (a
    * common neighbor has two neighbors), so ln never sees 1.
    *
    * Scale: baskets collapse to distinct items first (pair volume
    * Σ basket², bounded by the per-order line cap); the support prune
    * keeps the graph sparse, and wedge volume Σ deg(z)² SHRINKS with
    * SF for fixed support (co-purchase coincidence dilutes as the
    * part domain grows — measured 13k wedges at sf0.01, 1.4k at
    * sf0.1). Everything shuffles on part ids only.
    */
  def graphAdamicAdar(s: SparkSession, d: String): DataFrame = {
    val items = Tables.lineitem(s, d)
      .select("l_orderkey", "l_partkey").distinct()
    val ia = items.select(col("l_orderkey"), col("l_partkey").as("pa"))
    val ib = items.select(col("l_orderkey").as("ok2"), col("l_partkey").as("pb"))
    val edges = ia.join(ib, col("l_orderkey") === col("ok2") && col("pa") < col("pb"))
      .groupBy("pa", "pb").agg(count(lit(1)).as("n_ab"))
      .filter(col("n_ab") >= 2)
      .select("pa", "pb").stable
    val sym = edges.select(col("pa").as("src"), col("pb").as("dst"))
      .unionAll(edges.select(col("pb").as("src"), col("pa").as("dst")))
    val deg = sym.groupBy("src").agg(count(lit(1)).as("dg"))
    val zt = deg.filter(col("dg") >= 2)
      .select(col("src").as("z"),
        floor(lit(1e9) / log(col("dg").cast("double"))).cast("long").as("t"))
    val a = sym.select(col("src").as("z"), col("dst").as("u"))
    val b = sym.select(col("src").as("z2"), col("dst").as("v"))
    val wedges = a.join(b, col("z") === col("z2") && col("u") < col("v")).drop("z2")
    val nonEdges = wedges.join(edges,
      col("u") === col("pa") && col("v") === col("pb"), "left_anti")
    val out = nonEdges.join(zt, "z")
      .groupBy(col("u").as("part_a"), col("v").as("part_b"))
      .agg(count(lit(1)).as("cn"),
        (floor(sum(col("t")) / lit(1e5) + lit(0.5)) / 1e4).as("aa_score"))
      .orderBy(col("aa_score").desc, col("part_a").asc, col("part_b").asc)
      .limit(50)
    val collected = out.stable
    edges.unpersist(false)
    collected
  }

  /** Newman-Girvan modularity ([EXT]) of the label-propagation
    * communities over the MinHash near-dup graph: per community the
    * intra-edge count e_c and degree sum d_c, each community's exact
    * integer numerator 4m·e_c − d_c², and the global
    * Q = Σ(4m·e_c − d_c²)/4m² truncated to micro (Spark `div` ≡
    * DuckDB `//` on the possibly-negative total). The community-
    * quality readout that tells a curator whether label_prop's
    * near-dup communities are real structure or noise.
    *
    * Scale shape: edges and labels come from the linear MinHash path;
    * the modularity algebra is two |E|-row joins (labels onto edge
    * endpoints) plus community-bounded cell aggregations — no window
    * over the full graph, 1-row totals broadcast. 4m² exceeds int64
    * past ~1.5e9 edges — shift the numerator algebra to DECIMAL(38,0)
    * there (the corr_matrix convention).
    */
  def graphModularity(s: SparkSession, d: String): DataFrame = {
    val edges = Dedup.minhashScored(Tables.documents(s, d), 0.6)
      .filter(col("jac") >= 0.6)
      .select(col("doc_a").cast("long").as("doc_a"),
        col("doc_b").cast("long").as("doc_b")).stable
    val labels = labelPropOf(edges.select(col("doc_a"), col("doc_b")))
      .select(col("doc_id"), col("community")).stable
    val ej = edges
      .join(labels.select(col("doc_id").as("doc_a"), col("community").as("ca")),
        "doc_a")
      .join(labels.select(col("doc_id").as("doc_b"), col("community").as("cb")),
        "doc_b").persist()
    val m = ej.agg(count(lit(1)).as("m"))
    val ein = ej.filter(col("ca") === col("cb"))
      .groupBy(col("ca").as("community")).agg(count(lit(1)).as("e_in"))
    val deg = edges.select(col("doc_a").as("doc_id"))
      .unionAll(edges.select(col("doc_b").as("doc_id")))
      .join(labels, "doc_id")
      .groupBy("community").agg(count(lit(1)).as("deg_sum"))
    val cells = deg.join(ein, Seq("community"), "left")
      .select(col("community"),
        coalesce(col("e_in"), lit(0L)).as("e_in"), col("deg_sum"))
      .crossJoin(broadcast(m))
      .withColumn("contrib",
        expr("4L * m * e_in - deg_sum * deg_sum")).persist()
    val tot = cells.agg(sum("contrib").as("t"))
    val out = cells.crossJoin(broadcast(tot))
      .select(col("community"), col("e_in"), col("deg_sum"), col("contrib"),
        col("m"), expr("(t * 1000000L) div (4L * m * m)").as("q_micro"))
      .stable
    ej.unpersist(false); cells.unpersist(false)
    edges.unpersist(false); labels.unpersist(false)
    out
  }

  /** Degree assortativity ([EXT], Newman '02) of the MinHash near-dup
    * graph: the Pearson correlation of endpoint degrees over the
    * directed edge list (both orientations of each undirected edge) —
    * positive ⇒ hubs attach to hubs (duplication concentrates),
    * negative ⇒ hub-leaf structure (boilerplate radiating). Completes
    * the graph-metrics trio next to modularity (community) and the
    * triangle census (closure).
    *
    * Exactness: degrees are integers; all moments accumulate in
    * DECIMAL(38,0) ≡ HUGEINT; the final ratio is one fixed IEEE chain
    * micro-quantized (the corr_matrix convention). One |E| join to
    * attach degrees, one 1-row moment aggregation.
    */
  def graphAssortativity(s: SparkSession, d: String): DataFrame = {
    val dec = org.apache.spark.sql.types.DecimalType(38, 0)
    val und = Dedup.minhashScored(Tables.documents(s, d), 0.6)
      .filter(col("jac") >= 0.6)
      .select(col("doc_a").cast("long").as("a"),
        col("doc_b").cast("long").as("b")).stable
    val dir = und.select(col("a").as("src"), col("b").as("dst"))
      .unionAll(und.select(col("b").as("src"), col("a").as("dst")))
    val deg = dir.groupBy(col("src").as("n")).agg(count(lit(1)).as("d"))
    val pairs = dir
      .join(deg.select(col("n").as("src"), col("d").as("dx")), "src")
      .join(deg.select(col("n").as("dst"), col("d").as("dy")), "dst")
    val out = pairs.agg(
      count(lit(1)).cast(dec).as("n"),
      sum(col("dx").cast(dec)).as("sx"),
      sum((col("dx") * col("dx")).cast(dec)).as("sxx"),
      sum((col("dx") * col("dy")).cast(dec)).as("sxy"))
      .select(
        expr("CAST(n div 2 AS BIGINT)").as("m_edges"),
        col("sx").cast("long").as("deg_sum"),
        floor((col("n") * col("sxy") - col("sx") * col("sx")).cast("double")
          / (col("n") * col("sxx") - col("sx") * col("sx")).cast("double")
          * 1000000 + lit(0.5)).cast("long").as("assortativity_micro"))
      .stable
    und.unpersist(false)
    out
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "graph_assortativity" -> graphAssortativity,
    "graph_modularity" -> graphModularity,
    "graph_adamic_adar" -> graphAdamicAdar,
    "graph_stats" -> graphStats,
    "graph_bfs" -> graphBfs,
    "graph_bfs_minhash" -> graphBfsMinhash,
    "label_prop" -> labelProp,
    "label_prop_minhash" -> labelPropMinhash,
    "dedup_keep_priority" -> dedupKeepPriority,
    "dedup_keep_priority_minhash" -> dedupKeepPriorityMinhash,
    "kcore" -> kcore,
    "kcore_minhash" -> kcoreMinhash,
    "triangle_count" -> triangleCount,
    "triangle_count_minhash" -> triangleCountMinhash,
    "graph_lcc" -> graphLcc,
    "dedup_cluster" -> dedupCluster,
    "dedup_cluster_minhash" -> dedupClusterMinhash,
    "dedup_keep" -> dedupKeep,
    "dedup_keep_minhash" -> dedupKeepMinhash,
    "dedup_keep_tfidf" -> dedupKeepTfidf,
    "dedup_keep_central" -> dedupKeepCentral,
    "dedup_keep_central_minhash" -> dedupKeepCentralMinhash,
    "split_leakfree" -> splitLeakfree,
    "pagerank" -> pagerank)

  // ---- Shared suffixes for the MinHash-twin oracles -----------------
  // The md5/mod-P signature chain (Dedup.minhashEdgesSql) reproduces
  // minhashScored bit-for-bit in DuckDB, so each twin's oracle is the
  // SAME graph suffix as its ngram sibling, composed by concatenation
  // (the ngram originals keep their standalone literals below).
  private val ccSymSql =
    """e AS (SELECT doc_a AS src, doc_b AS dst FROM scored
      |      UNION ALL
      |      SELECT doc_b AS src, doc_a AS dst FROM scored),
      |cc AS (
      |  SELECT DISTINCT src AS node, src AS label FROM e
      |  UNION
      |  SELECT e.dst AS node, cc.label FROM cc JOIN e ON e.src = cc.node),
      |lab AS (SELECT node, min(label) AS cluster_id FROM cc GROUP BY node),
      |sz AS (SELECT cluster_id, count(*) AS n_docs FROM lab GROUP BY 1)""".stripMargin

  // The quadratic ngram >= 0.6 edge chain (tokens → 3-shingles → df-
  // capped inverted self-join → Jaccard threshold), ending in
  // `scored(doc_a, doc_b)` — the oracle-baseline edge producer shared
  // by the newer graph entries (the older oracles keep their
  // standalone literals).
  private val ngramScoredSqlLit =
    """sh AS (
      |  SELECT doc_id,
      |    CASE WHEN len(w) >= 3 THEN list_distinct(list_transform(
      |      generate_series(1, len(w) - 2),
      |      i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]))
      |    ELSE [] END AS shingles
      |  FROM (SELECT doc_id,
      |          list_filter(string_split_regex(text, '[^\p{L}]+'), x -> len(x) > 0) AS w
      |        FROM documents)),
      |ex AS (SELECT doc_id, unnest(shingles) AS shingle FROM sh),
      |ok AS (SELECT shingle FROM ex GROUP BY shingle HAVING count(*) <= 128),
      |exf AS (SELECT ex.doc_id, ex.shingle FROM ex JOIN ok USING (shingle)),
      |sizes AS (SELECT doc_id, len(shingles) AS nsh FROM sh),
      |pairs AS (
      |  SELECT x.doc_id AS doc_a, y.doc_id AS doc_b, count(*) AS common
      |  FROM exf x JOIN exf y ON x.shingle = y.shingle AND x.doc_id < y.doc_id
      |  GROUP BY 1, 2),
      |scored AS (
      |  SELECT doc_a, doc_b
      |  FROM pairs
      |  JOIN sizes sa ON sa.doc_id = doc_a
      |  JOIN sizes sb ON sb.doc_id = doc_b
      |  WHERE CAST(common AS DOUBLE) / (sa.nsh + sb.nsh - common) >= 0.6)""".stripMargin

  // Source-priority survivor pick over the CC label table (lab/sz from
  // ccSymSql): numeric source rank ascending, ties to min node.
  private val keepPriorityTailSql =
    """pri AS (
      |  SELECT lab.node, lab.cluster_id,
      |    row_number() OVER (PARTITION BY lab.cluster_id
      |      ORDER BY CAST(regexp_replace(d.source, '[^0-9]', '', 'g') AS INTEGER),
      |               lab.node) AS r
      |  FROM lab JOIN documents d ON d.doc_id = lab.node),
      |surv AS (SELECT cluster_id, node AS survivor FROM pri WHERE r = 1)""".stripMargin

  private val keepPrioritySelectSql =
    """SELECT d.doc_id, coalesce(sz.n_docs, 1) AS cluster_size
      |FROM documents d
      |LEFT JOIN lab ON lab.node = d.doc_id
      |LEFT JOIN sz ON sz.cluster_id = lab.cluster_id
      |LEFT JOIN surv ON surv.cluster_id = lab.cluster_id
      |WHERE lab.node IS NULL OR d.doc_id = surv.survivor""".stripMargin

  // LPA: e0 = symmetric edges; each round every node adopts its
  // neighbors' plurality label (ties to the smallest) — integer
  // counts + deterministic window, mirroring labelPropOf round for
  // round. Shared verbatim by the ngram and minhash oracles.
  private def lpChainSql: String = {
    val rounds = (1 to LpRounds).map { i =>
      s"""l$i AS (
         |  SELECT node, label FROM (
         |    SELECT e.src AS node, l.label,
         |      row_number() OVER (PARTITION BY e.src
         |        ORDER BY count(*) DESC, l.label) AS rn
         |    FROM e0 e JOIN l${i - 1} l ON l.node = e.dst
         |    GROUP BY e.src, l.label) WHERE rn = 1)""".stripMargin
    }.mkString(",\n")
    s"""e0 AS MATERIALIZED (
       |  SELECT doc_a AS src, doc_b AS dst FROM scored
       |  UNION ALL SELECT doc_b, doc_a FROM scored),
       |l0 AS (SELECT DISTINCT src AS node, src AS label FROM e0),
       |$rounds,
       |lsz AS (SELECT label, count(*) AS n_members FROM l$LpRounds GROUP BY 1)""".stripMargin
  }

  // Bounded multi-source BFS: d0 = src0 seeds, each round joins the
  // settled set to the symmetric edges and re-deduplicates per node by
  // (hops, root) — mirroring bfsOf round for round. Integer-exact.
  private def bfsChainSql: String = {
    val rounds = (1 to BfsRounds).map { i =>
      s"""d$i AS MATERIALIZED (
         |  SELECT node, hops, root FROM (
         |    SELECT node, hops, root,
         |      row_number() OVER (PARTITION BY node ORDER BY hops, root) AS rn
         |    FROM (SELECT node, hops, root FROM d${i - 1}
         |          UNION ALL
         |          SELECT e.dst AS node, p.hops + 1 AS hops, p.root
         |          FROM d${i - 1} p JOIN e0 e ON e.src = p.node) u) z
         |  WHERE rn = 1)""".stripMargin
    }.mkString(",\n")
    s"""e0 AS MATERIALIZED (
       |  SELECT doc_a AS src, doc_b AS dst FROM scored
       |  UNION ALL SELECT doc_b, doc_a FROM scored),
       |d0 AS (SELECT doc_id AS node, 0 AS hops, doc_id AS root
       |       FROM documents WHERE source = 'src0'),
       |$rounds""".stripMargin
  }

  private def bfsSelectSql: String =
    s"""SELECT node AS doc_id, CAST(hops AS INTEGER) AS hops, root
       |FROM d$BfsRounds""".stripMargin

  private val lpSelectSql =
    s"""SELECT l.node AS doc_id, l.label AS community,
       |  CAST(lsz.n_members AS BIGINT) AS n_members
       |FROM l$LpRounds l JOIN lsz USING (label)""".stripMargin

  private def minhashOracles: Map[String, String] = {
    val edges06 = Dedup.minhashEdgesSql(Some(0.6))
    val kcoreRoundsSql = (1 to KcoreRounds).map { i =>
      s"""k$i AS (SELECT src FROM e${i - 1} GROUP BY src HAVING count(*) >= $KcoreK),
         |e$i AS MATERIALIZED (
         |  SELECT e.src, e.dst FROM e${i - 1} e
         |  JOIN k$i a ON a.src = e.src
         |  JOIN k$i b ON b.src = e.dst)""".stripMargin
    }.mkString(",\n")
    Map(
      "dedup_cluster_minhash" ->
        ("WITH RECURSIVE " + edges06 + ",\n" + ccSymSql + "\n" +
          """SELECT node AS doc_id, cluster_id, n_docs
            |FROM lab JOIN sz USING (cluster_id)""".stripMargin),
      "dedup_keep_minhash" ->
        ("WITH RECURSIVE " + edges06 + ",\n" + ccSymSql + "\n" +
          """SELECT d.doc_id, coalesce(sz.n_docs, 1) AS cluster_size
            |FROM documents d
            |LEFT JOIN lab ON lab.node = d.doc_id
            |LEFT JOIN sz ON sz.cluster_id = lab.cluster_id
            |WHERE lab.node IS NULL OR lab.node = lab.cluster_id""".stripMargin),
      "dedup_keep_tfidf" ->
        ("WITH RECURSIVE " + Dedup.tfidfWtSqlCtes + ",\n" +
          Dedup.tfidfScoredSqlCtes + ",\n" + ccSymSql + "\n" +
          """SELECT d.doc_id, coalesce(sz.n_docs, 1) AS cluster_size
            |FROM documents d
            |LEFT JOIN lab ON lab.node = d.doc_id
            |LEFT JOIN sz ON sz.cluster_id = lab.cluster_id
            |WHERE lab.node IS NULL OR lab.node = lab.cluster_id""".stripMargin),
      "dedup_keep_central_minhash" ->
        ("WITH RECURSIVE " + edges06 + ",\n" + ccSymSql + ",\n" +
          """str AS (
            |  SELECT node, sum(jac) AS strength FROM (
            |    SELECT doc_a AS node, jac FROM scored
            |    UNION ALL
            |    SELECT doc_b AS node, jac FROM scored)
            |  GROUP BY node),
            |rk AS (
            |  SELECT lab.node, lab.cluster_id,
            |    row_number() OVER (PARTITION BY lab.cluster_id
            |      ORDER BY round(str.strength, 6) DESC, lab.node ASC) AS r
            |  FROM lab JOIN str ON str.node = lab.node),
            |surv AS (SELECT cluster_id, node AS survivor FROM rk WHERE r = 1)
            |SELECT d.doc_id, coalesce(sz.n_docs, 1) AS cluster_size
            |FROM documents d
            |LEFT JOIN lab ON lab.node = d.doc_id
            |LEFT JOIN sz ON sz.cluster_id = lab.cluster_id
            |LEFT JOIN surv ON surv.cluster_id = lab.cluster_id
            |WHERE lab.node IS NULL OR d.doc_id = surv.survivor""".stripMargin),
      "kcore_minhash" ->
        ("WITH " + edges06 + ",\n" +
          """e0 AS MATERIALIZED (
            |  SELECT doc_a AS src, doc_b AS dst FROM scored
            |  UNION ALL SELECT doc_b, doc_a FROM scored),
            |""".stripMargin + kcoreRoundsSql + "\n" +
          s"""SELECT src AS doc_id, CAST(count(*) AS BIGINT) AS core_deg
             |FROM e$KcoreRounds GROUP BY src""".stripMargin),
      "label_prop_minhash" ->
        ("WITH " + edges06 + ",\n" + lpChainSql + "\n" + lpSelectSql),
      "graph_assortativity" ->
        ("WITH " + edges06 + ",\n" +
          """dir AS MATERIALIZED (
            |  SELECT doc_a AS src, doc_b AS dst FROM scored
            |  UNION ALL SELECT doc_b, doc_a FROM scored),
            |deg AS (SELECT src AS n, count(*) AS d FROM dir GROUP BY 1),
            |mo AS (
            |  SELECT CAST(count(*) AS HUGEINT) AS n,
            |    CAST(sum(da.d) AS HUGEINT) AS sx,
            |    CAST(sum(CAST(da.d AS HUGEINT) * da.d) AS HUGEINT) AS sxx,
            |    CAST(sum(CAST(da.d AS HUGEINT) * db.d) AS HUGEINT) AS sxy
            |  FROM dir JOIN deg da ON da.n = dir.src
            |  JOIN deg db ON db.n = dir.dst)
            |SELECT CAST(n // 2 AS BIGINT) AS m_edges,
            |  CAST(sx AS BIGINT) AS deg_sum,
            |  CAST(floor(CAST(n * sxy - sx * sx AS DOUBLE)
            |    / CAST(n * sxx - sx * sx AS DOUBLE) * 1000000 + 0.5)
            |    AS BIGINT) AS assortativity_micro
            |FROM mo""".stripMargin),
      "graph_modularity" ->
        ("WITH " + edges06 + ",\n" + lpChainSql + ",\n" +
          s"""ej AS MATERIALIZED (
            |  SELECT s.doc_a, s.doc_b, la.label AS ca, lb.label AS cb
            |  FROM scored s JOIN l$LpRounds la ON la.node = s.doc_a
            |                JOIN l$LpRounds lb ON lb.node = s.doc_b),
            |mm AS (SELECT CAST(count(*) AS BIGINT) AS m FROM ej),
            |ein AS (SELECT ca AS community, CAST(count(*) AS BIGINT) AS e_in
            |        FROM ej WHERE ca = cb GROUP BY 1),
            |deg AS (SELECT l.label AS community,
            |          CAST(count(*) AS BIGINT) AS deg_sum
            |        FROM (SELECT doc_a AS n FROM scored
            |              UNION ALL SELECT doc_b FROM scored) x
            |        JOIN l$LpRounds l ON l.node = x.n GROUP BY 1),
            |cells AS MATERIALIZED (
            |  SELECT d.community, coalesce(e.e_in, 0) AS e_in, d.deg_sum,
            |    CAST(4 * mm.m * coalesce(e.e_in, 0)
            |         - d.deg_sum * d.deg_sum AS BIGINT) AS contrib
            |  FROM deg d LEFT JOIN ein e USING (community) CROSS JOIN mm),
            |tot AS (SELECT CAST(sum(contrib) AS HUGEINT) AS t FROM cells)
            |SELECT c.community, c.e_in, c.deg_sum, c.contrib, mm.m,
            |  CAST((t.t * 1000000) // (4 * CAST(mm.m AS HUGEINT) * mm.m)
            |    AS BIGINT) AS q_micro
            |FROM cells c CROSS JOIN mm CROSS JOIN tot t""".stripMargin),
      "graph_bfs_minhash" ->
        ("WITH " + edges06 + ",\n" + bfsChainSql + "\n" + bfsSelectSql),
      "dedup_keep_priority_minhash" ->
        ("WITH RECURSIVE " + edges06 + ",\n" + ccSymSql + ",\n" +
          keepPriorityTailSql + "\n" + keepPrioritySelectSql),
      "triangle_count_minhash" ->
        ("WITH " + edges06 + ",\n" +
          """deg AS (SELECT n, count(*) AS d FROM (
            |          SELECT doc_a AS n FROM scored
            |          UNION ALL SELECT doc_b FROM scored) GROUP BY n),
            |tri AS (SELECT count(*) AS n_triangles
            |        FROM scored e1
            |        JOIN scored e2 ON e1.doc_b = e2.doc_a
            |        JOIN scored e3 ON e3.doc_a = e1.doc_a AND e3.doc_b = e2.doc_b),
            |st AS (SELECT count(*) AS n_edges FROM scored),
            |wt AS (SELECT CAST(sum(d * (d - 1) // 2) AS BIGINT) AS n_wedges FROM deg)
            |SELECT n_edges, n_wedges, n_triangles,
            |  round(CASE WHEN n_wedges > 0
            |             THEN n_triangles * 3.0 / n_wedges ELSE 0.0 END, 6)
            |    AS clustering_coeff
            |FROM st CROSS JOIN wt CROSS JOIN tri""".stripMargin))
  }

  def oracleSql: Map[String, String] = minhashOracles ++ Map(
    "dedup_keep_priority" ->
      ("WITH RECURSIVE " + ngramScoredSqlLit + ",\n" + ccSymSql + ",\n" +
        keepPriorityTailSql + "\n" + keepPrioritySelectSql),
    "label_prop" ->
      (s"""WITH sh AS (
         |  SELECT doc_id,
         |    CASE WHEN len(w) >= 3 THEN list_distinct(list_transform(
         |      generate_series(1, len(w) - 2),
         |      i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]))
         |    ELSE [] END AS shingles
         |  FROM (SELECT doc_id,
         |          list_filter(string_split_regex(text, '[^\\p{L}]+'), x -> len(x) > 0) AS w
         |        FROM documents)),
         |ex AS (SELECT doc_id, unnest(shingles) AS shingle FROM sh),
         |ok AS (SELECT shingle FROM ex GROUP BY shingle HAVING count(*) <= 128),
         |exf AS (SELECT ex.doc_id, ex.shingle FROM ex JOIN ok USING (shingle)),
         |sizes AS (SELECT doc_id, len(shingles) AS nsh FROM sh),
         |pairs AS (
         |  SELECT x.doc_id AS doc_a, y.doc_id AS doc_b, count(*) AS common
         |  FROM exf x JOIN exf y ON x.shingle = y.shingle AND x.doc_id < y.doc_id
         |  GROUP BY 1, 2),
         |scored AS (
         |  SELECT doc_a, doc_b
         |  FROM pairs
         |  JOIN sizes sa ON sa.doc_id = doc_a
         |  JOIN sizes sb ON sb.doc_id = doc_b
         |  WHERE CAST(common AS DOUBLE) / (sa.nsh + sb.nsh - common) >= 0.6),
         |""".stripMargin + lpChainSql + "\n" + lpSelectSql),
    "graph_bfs" ->
      ("WITH " + ngramScoredSqlLit + ",\n" + bfsChainSql + "\n" + bfsSelectSql),
    "graph_adamic_adar" ->
      """WITH items AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
        |ed AS (
        |  SELECT a.l_partkey AS pa, b.l_partkey AS pb
        |  FROM items a JOIN items b
        |    ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
        |  GROUP BY 1, 2 HAVING count(*) >= 2),
        |e AS (SELECT pa AS src, pb AS dst FROM ed
        |      UNION ALL
        |      SELECT pb AS src, pa AS dst FROM ed),
        |deg AS (SELECT src, count(*) AS dg FROM e GROUP BY 1),
        |zt AS (SELECT src AS z,
        |         CAST(floor(1e9 / ln(CAST(dg AS DOUBLE))) AS BIGINT) AS t
        |       FROM deg WHERE dg >= 2),
        |w AS (SELECT a.src AS z, a.dst AS u, b.dst AS v
        |      FROM e a JOIN e b ON a.src = b.src AND a.dst < b.dst),
        |nw AS (SELECT w.z, w.u, w.v FROM w
        |       LEFT JOIN ed ON ed.pa = w.u AND ed.pb = w.v
        |       WHERE ed.pa IS NULL)
        |SELECT u AS part_a, v AS part_b, count(*) AS cn,
        |  floor(sum(t) / 1e5 + 0.5) / 1e4 AS aa_score
        |FROM nw JOIN zt USING (z)
        |GROUP BY 1, 2
        |ORDER BY aa_score DESC, part_a, part_b LIMIT 50""".stripMargin,
    "graph_stats" ->
      ("WITH RECURSIVE " + ngramScoredSqlLit + ",\n" + ccSymSql + ",\n" +
        """deg AS (SELECT src, count(*) AS dg FROM e GROUP BY 1)
          |SELECT
          |  CAST((SELECT count(*) FROM deg) AS BIGINT) AS n_nodes,
          |  CAST((SELECT count(*) FROM scored) AS BIGINT) AS n_edges,
          |  CAST((SELECT max(dg) FROM deg) AS BIGINT) AS max_degree,
          |  floor((SELECT avg(dg) FROM deg) * 10000 + 0.5) / 10000.0
          |    AS avg_degree,
          |  CAST((SELECT count(*) FROM sz) AS BIGINT) AS n_components,
          |  CAST((SELECT max(n_docs) FROM sz) AS BIGINT)
          |    AS largest_component""".stripMargin),
    "kcore" -> {
      // Fixed 8 peel rounds unrolled over the same near-dup edge CTEs
      // the pagerank/triangle oracles build. Pure integer arithmetic —
      // degree counts and id joins — so the hash gate is exact.
      // MATERIALIZED on every e_i: each is referenced twice in the
      // next round (degree + restriction) — without it DuckDB inlines
      // the chain and scan count doubles per round.
      val rounds = (1 to KcoreRounds).map { i =>
        s"""k$i AS (SELECT src FROM e${i - 1} GROUP BY src HAVING count(*) >= $KcoreK),
           |e$i AS MATERIALIZED (
           |  SELECT e.src, e.dst FROM e${i - 1} e
           |  JOIN k$i a ON a.src = e.src
           |  JOIN k$i b ON b.src = e.dst)""".stripMargin
      }.mkString(",\n")
      s"""WITH sh AS (
         |  SELECT doc_id,
         |    CASE WHEN len(w) >= 3 THEN list_distinct(list_transform(
         |      generate_series(1, len(w) - 2),
         |      i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]))
         |    ELSE [] END AS shingles
         |  FROM (SELECT doc_id,
         |          list_filter(string_split_regex(text, '[^\\p{L}]+'), x -> len(x) > 0) AS w
         |        FROM documents)),
         |ex AS (SELECT doc_id, unnest(shingles) AS shingle FROM sh),
         |ok AS (SELECT shingle FROM ex GROUP BY shingle HAVING count(*) <= 128),
         |exf AS (SELECT ex.doc_id, ex.shingle FROM ex JOIN ok USING (shingle)),
         |sizes AS (SELECT doc_id, len(shingles) AS nsh FROM sh),
         |pairs AS (
         |  SELECT x.doc_id AS doc_a, y.doc_id AS doc_b, count(*) AS common
         |  FROM exf x JOIN exf y ON x.shingle = y.shingle AND x.doc_id < y.doc_id
         |  GROUP BY 1, 2),
         |scored AS (
         |  SELECT doc_a, doc_b
         |  FROM pairs
         |  JOIN sizes sa ON sa.doc_id = doc_a
         |  JOIN sizes sb ON sb.doc_id = doc_b
         |  WHERE CAST(common AS DOUBLE) / (sa.nsh + sb.nsh - common) >= 0.6),
         |e0 AS MATERIALIZED (
         |  SELECT doc_a AS src, doc_b AS dst FROM scored
         |  UNION ALL SELECT doc_b, doc_a FROM scored),
         |$rounds
         |SELECT src AS doc_id, CAST(count(*) AS BIGINT) AS core_deg
         |FROM e$KcoreRounds GROUP BY src""".stripMargin
    },
    "pagerank" -> {
      // 10 damped rounds unrolled as chained CTEs over the same
      // near-dup edge set the triangle/cluster oracles build. The
      // symmetrized graph has no dangling nodes, so the dangling-mass
      // term is exactly 0.0 every round and is omitted; arithmetic
      // otherwise mirrors pagerankOf term by term ((1-d)/n computed in
      // double, per-edge rank/outdeg division, coalesce-to-0 for
      // no-inlink nodes) so both engines round the same IEEE values.
      val rounds = (1 to 10).map { i =>
        s"""r$i AS (
           |  SELECT no.node,
           |    (1 - 0.85) / nn.n + 0.85 * coalesce(c.inr, 0.0) AS rank
           |  FROM nodes no CROSS JOIN nn
           |  LEFT JOIN (
           |    SELECT s.dst AS node, sum(r.rank / d.outdeg) AS inr
           |    FROM sym s JOIN r${i - 1} r ON r.node = s.src
           |    JOIN deg d ON d.src = s.src
           |    GROUP BY s.dst) c ON c.node = no.node)""".stripMargin
      }.mkString(",\n")
      s"""WITH sh AS (
         |  SELECT doc_id,
         |    CASE WHEN len(w) >= 3 THEN list_distinct(list_transform(
         |      generate_series(1, len(w) - 2),
         |      i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]))
         |    ELSE [] END AS shingles
         |  FROM (SELECT doc_id,
         |          list_filter(string_split_regex(text, '[^\\p{L}]+'), x -> len(x) > 0) AS w
         |        FROM documents)),
         |ex AS (SELECT doc_id, unnest(shingles) AS shingle FROM sh),
         |ok AS (SELECT shingle FROM ex GROUP BY shingle HAVING count(*) <= 128),
         |exf AS (SELECT ex.doc_id, ex.shingle FROM ex JOIN ok USING (shingle)),
         |sizes AS (SELECT doc_id, len(shingles) AS nsh FROM sh),
         |pairs AS (
         |  SELECT x.doc_id AS doc_a, y.doc_id AS doc_b, count(*) AS common
         |  FROM exf x JOIN exf y ON x.shingle = y.shingle AND x.doc_id < y.doc_id
         |  GROUP BY 1, 2),
         |scored AS (
         |  SELECT doc_a, doc_b
         |  FROM pairs
         |  JOIN sizes sa ON sa.doc_id = doc_a
         |  JOIN sizes sb ON sb.doc_id = doc_b
         |  WHERE CAST(common AS DOUBLE) / (sa.nsh + sb.nsh - common) >= 0.6),
         |sym AS (SELECT doc_a AS src, doc_b AS dst FROM scored
         |        UNION ALL SELECT doc_b, doc_a FROM scored),
         |nodes AS (SELECT DISTINCT src AS node FROM sym),
         |nn AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM nodes),
         |deg AS (SELECT src, count(*) AS outdeg FROM sym GROUP BY src),
         |r0 AS (SELECT node, 1.0 / n AS rank FROM nodes CROSS JOIN nn),
         |$rounds
         |SELECT node AS doc_id, round(rank, 6) AS rank FROM r10""".stripMargin
    },
    "graph_lcc" ->
      """WITH sh AS (
        |  SELECT doc_id,
        |    CASE WHEN len(w) >= 3 THEN list_distinct(list_transform(
        |      generate_series(1, len(w) - 2),
        |      i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]))
        |    ELSE [] END AS shingles
        |  FROM (SELECT doc_id,
        |          list_filter(string_split_regex(text, '[^\p{L}]+'), x -> len(x) > 0) AS w
        |        FROM documents)),
        |ex AS (SELECT doc_id, unnest(shingles) AS shingle FROM sh),
        |ok AS (SELECT shingle FROM ex GROUP BY shingle HAVING count(*) <= 128),
        |exf AS (SELECT ex.doc_id, ex.shingle FROM ex JOIN ok USING (shingle)),
        |sizes AS (SELECT doc_id, len(shingles) AS nsh FROM sh),
        |pairs AS (
        |  SELECT x.doc_id AS doc_a, y.doc_id AS doc_b, count(*) AS common
        |  FROM exf x JOIN exf y ON x.shingle = y.shingle AND x.doc_id < y.doc_id
        |  GROUP BY 1, 2),
        |scored AS (
        |  SELECT doc_a, doc_b
        |  FROM pairs
        |  JOIN sizes sa ON sa.doc_id = doc_a
        |  JOIN sizes sb ON sb.doc_id = doc_b
        |  WHERE CAST(common AS DOUBLE) / (sa.nsh + sb.nsh - common) >= 0.6),
        |deg AS (SELECT n, count(*) AS d FROM (
        |          SELECT doc_a AS n FROM scored
        |          UNION ALL SELECT doc_b FROM scored) GROUP BY n),
        |tri AS (SELECT e1.doc_a AS a, e1.doc_b AS x, e2.doc_b AS y
        |        FROM scored e1
        |        JOIN scored e2 ON e1.doc_b = e2.doc_a
        |        JOIN scored e3 ON e3.doc_a = e1.doc_a AND e3.doc_b = e2.doc_b),
        |corners AS (
        |  SELECT n, count(*) AS n_tri FROM (
        |    SELECT a AS n FROM tri
        |    UNION ALL SELECT x FROM tri
        |    UNION ALL SELECT y FROM tri) GROUP BY n)
        |SELECT deg.n AS node, deg.d AS degree,
        |  coalesce(c.n_tri, 0) AS n_triangles,
        |  CASE WHEN deg.d >= 2
        |    THEN CAST((2 * coalesce(c.n_tri, 0) * 1000000)
        |              // (deg.d * (deg.d - 1)) AS BIGINT)
        |    ELSE 0 END AS lcc_micro
        |FROM deg LEFT JOIN corners c ON c.n = deg.n""".stripMargin,
    "triangle_count" ->
      """WITH sh AS (
        |  SELECT doc_id,
        |    CASE WHEN len(w) >= 3 THEN list_distinct(list_transform(
        |      generate_series(1, len(w) - 2),
        |      i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]))
        |    ELSE [] END AS shingles
        |  FROM (SELECT doc_id,
        |          list_filter(string_split_regex(text, '[^\p{L}]+'), x -> len(x) > 0) AS w
        |        FROM documents)),
        |ex AS (SELECT doc_id, unnest(shingles) AS shingle FROM sh),
        |ok AS (SELECT shingle FROM ex GROUP BY shingle HAVING count(*) <= 128),
        |exf AS (SELECT ex.doc_id, ex.shingle FROM ex JOIN ok USING (shingle)),
        |sizes AS (SELECT doc_id, len(shingles) AS nsh FROM sh),
        |pairs AS (
        |  SELECT x.doc_id AS doc_a, y.doc_id AS doc_b, count(*) AS common
        |  FROM exf x JOIN exf y ON x.shingle = y.shingle AND x.doc_id < y.doc_id
        |  GROUP BY 1, 2),
        |scored AS (
        |  SELECT doc_a, doc_b
        |  FROM pairs
        |  JOIN sizes sa ON sa.doc_id = doc_a
        |  JOIN sizes sb ON sb.doc_id = doc_b
        |  WHERE CAST(common AS DOUBLE) / (sa.nsh + sb.nsh - common) >= 0.6),
        |deg AS (SELECT n, count(*) AS d FROM (
        |          SELECT doc_a AS n FROM scored
        |          UNION ALL SELECT doc_b FROM scored) GROUP BY n),
        |tri AS (SELECT count(*) AS n_triangles
        |        FROM scored e1
        |        JOIN scored e2 ON e1.doc_b = e2.doc_a
        |        JOIN scored e3 ON e3.doc_a = e1.doc_a AND e3.doc_b = e2.doc_b),
        |st AS (SELECT count(*) AS n_edges FROM scored),
        |wt AS (SELECT CAST(sum(d * (d - 1) // 2) AS BIGINT) AS n_wedges FROM deg)
        |SELECT n_edges, n_wedges, n_triangles,
        |  round(CASE WHEN n_wedges > 0
        |             THEN n_triangles * 3.0 / n_wedges ELSE 0.0 END, 6)
        |    AS clustering_coeff
        |FROM st CROSS JOIN wt CROSS JOIN tri""".stripMargin,
    "dedup_cluster" ->
      """WITH RECURSIVE sh AS (
        |  SELECT doc_id,
        |    CASE WHEN len(w) >= 3 THEN list_distinct(list_transform(
        |      generate_series(1, len(w) - 2),
        |      i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]))
        |    ELSE [] END AS shingles
        |  FROM (SELECT doc_id,
        |          list_filter(string_split_regex(text, '[^\p{L}]+'), x -> len(x) > 0) AS w
        |        FROM documents)),
        |ex AS (SELECT doc_id, unnest(shingles) AS shingle FROM sh),
        |ok AS (SELECT shingle FROM ex GROUP BY shingle HAVING count(*) <= 128),
        |exf AS (SELECT ex.doc_id, ex.shingle FROM ex JOIN ok USING (shingle)),
        |sizes AS (SELECT doc_id, len(shingles) AS nsh FROM sh),
        |pairs AS (
        |  SELECT x.doc_id AS doc_a, y.doc_id AS doc_b, count(*) AS common
        |  FROM exf x JOIN exf y ON x.shingle = y.shingle AND x.doc_id < y.doc_id
        |  GROUP BY 1, 2),
        |scored AS (
        |  SELECT doc_a, doc_b
        |  FROM pairs
        |  JOIN sizes sa ON sa.doc_id = doc_a
        |  JOIN sizes sb ON sb.doc_id = doc_b
        |  WHERE CAST(common AS DOUBLE) / (sa.nsh + sb.nsh - common) >= 0.6),
        |e AS (SELECT doc_a AS src, doc_b AS dst FROM scored
        |      UNION ALL
        |      SELECT doc_b AS src, doc_a AS dst FROM scored),
        |cc AS (
        |  SELECT DISTINCT src AS node, src AS label FROM e
        |  UNION
        |  SELECT e.dst AS node, cc.label FROM cc JOIN e ON e.src = cc.node),
        |lab AS (SELECT node, min(label) AS cluster_id FROM cc GROUP BY node),
        |sz AS (SELECT cluster_id, count(*) AS n_docs FROM lab GROUP BY 1)
        |SELECT node AS doc_id, cluster_id, n_docs
        |FROM lab JOIN sz USING (cluster_id)""".stripMargin,
    "dedup_keep" ->
      """WITH RECURSIVE sh AS (
        |  SELECT doc_id,
        |    CASE WHEN len(w) >= 3 THEN list_distinct(list_transform(
        |      generate_series(1, len(w) - 2),
        |      i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]))
        |    ELSE [] END AS shingles
        |  FROM (SELECT doc_id,
        |          list_filter(string_split_regex(text, '[^\p{L}]+'), x -> len(x) > 0) AS w
        |        FROM documents)),
        |ex AS (SELECT doc_id, unnest(shingles) AS shingle FROM sh),
        |ok AS (SELECT shingle FROM ex GROUP BY shingle HAVING count(*) <= 128),
        |exf AS (SELECT ex.doc_id, ex.shingle FROM ex JOIN ok USING (shingle)),
        |sizes AS (SELECT doc_id, len(shingles) AS nsh FROM sh),
        |pairs AS (
        |  SELECT x.doc_id AS doc_a, y.doc_id AS doc_b, count(*) AS common
        |  FROM exf x JOIN exf y ON x.shingle = y.shingle AND x.doc_id < y.doc_id
        |  GROUP BY 1, 2),
        |scored AS (
        |  SELECT doc_a, doc_b
        |  FROM pairs
        |  JOIN sizes sa ON sa.doc_id = doc_a
        |  JOIN sizes sb ON sb.doc_id = doc_b
        |  WHERE CAST(common AS DOUBLE) / (sa.nsh + sb.nsh - common) >= 0.6),
        |e AS (SELECT doc_a AS src, doc_b AS dst FROM scored
        |      UNION ALL
        |      SELECT doc_b AS src, doc_a AS dst FROM scored),
        |cc AS (
        |  SELECT DISTINCT src AS node, src AS label FROM e
        |  UNION
        |  SELECT e.dst AS node, cc.label FROM cc JOIN e ON e.src = cc.node),
        |lab AS (SELECT node, min(label) AS cluster_id FROM cc GROUP BY node),
        |sz AS (SELECT cluster_id, count(*) AS n_docs FROM lab GROUP BY 1)
        |SELECT d.doc_id, coalesce(sz.n_docs, 1) AS cluster_size
        |FROM documents d
        |LEFT JOIN lab ON lab.node = d.doc_id
        |LEFT JOIN sz ON sz.cluster_id = lab.cluster_id
        |WHERE lab.node IS NULL OR lab.node = lab.cluster_id""".stripMargin,
    "dedup_keep_central" ->
      """WITH RECURSIVE sh AS (
        |  SELECT doc_id,
        |    CASE WHEN len(w) >= 3 THEN list_distinct(list_transform(
        |      generate_series(1, len(w) - 2),
        |      i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]))
        |    ELSE [] END AS shingles
        |  FROM (SELECT doc_id,
        |          list_filter(string_split_regex(text, '[^\p{L}]+'), x -> len(x) > 0) AS w
        |        FROM documents)),
        |ex AS (SELECT doc_id, unnest(shingles) AS shingle FROM sh),
        |ok AS (SELECT shingle FROM ex GROUP BY shingle HAVING count(*) <= 128),
        |exf AS (SELECT ex.doc_id, ex.shingle FROM ex JOIN ok USING (shingle)),
        |sizes AS (SELECT doc_id, len(shingles) AS nsh FROM sh),
        |pairs AS (
        |  SELECT x.doc_id AS doc_a, y.doc_id AS doc_b, count(*) AS common
        |  FROM exf x JOIN exf y ON x.shingle = y.shingle AND x.doc_id < y.doc_id
        |  GROUP BY 1, 2),
        |scored AS (
        |  SELECT doc_a, doc_b,
        |    CAST(common AS DOUBLE) / (sa.nsh + sb.nsh - common) AS jac
        |  FROM pairs
        |  JOIN sizes sa ON sa.doc_id = doc_a
        |  JOIN sizes sb ON sb.doc_id = doc_b
        |  WHERE CAST(common AS DOUBLE) / (sa.nsh + sb.nsh - common) >= 0.6),
        |e AS (SELECT doc_a AS src, doc_b AS dst FROM scored
        |      UNION ALL
        |      SELECT doc_b AS src, doc_a AS dst FROM scored),
        |cc AS (
        |  SELECT DISTINCT src AS node, src AS label FROM e
        |  UNION
        |  SELECT e.dst AS node, cc.label FROM cc JOIN e ON e.src = cc.node),
        |lab AS (SELECT node, min(label) AS cluster_id FROM cc GROUP BY node),
        |sz AS (SELECT cluster_id, count(*) AS n_docs FROM lab GROUP BY 1),
        |str AS (
        |  SELECT node, sum(jac) AS strength FROM (
        |    SELECT doc_a AS node, jac FROM scored
        |    UNION ALL
        |    SELECT doc_b AS node, jac FROM scored)
        |  GROUP BY node),
        |rk AS (
        |  SELECT lab.node, lab.cluster_id,
        |    row_number() OVER (PARTITION BY lab.cluster_id
        |      ORDER BY round(str.strength, 6) DESC, lab.node ASC) AS r
        |  FROM lab JOIN str ON str.node = lab.node),
        |surv AS (SELECT cluster_id, node AS survivor FROM rk WHERE r = 1)
        |SELECT d.doc_id, coalesce(sz.n_docs, 1) AS cluster_size
        |FROM documents d
        |LEFT JOIN lab ON lab.node = d.doc_id
        |LEFT JOIN sz ON sz.cluster_id = lab.cluster_id
        |LEFT JOIN surv ON surv.cluster_id = lab.cluster_id
        |WHERE lab.node IS NULL OR d.doc_id = surv.survivor""".stripMargin,
    "split_leakfree" ->
      """WITH RECURSIVE sh AS (
        |  SELECT doc_id,
        |    CASE WHEN len(w) >= 3 THEN list_distinct(list_transform(
        |      generate_series(1, len(w) - 2),
        |      i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]))
        |    ELSE [] END AS shingles
        |  FROM (SELECT doc_id,
        |          list_filter(string_split_regex(text, '[^\p{L}]+'), x -> len(x) > 0) AS w
        |        FROM documents)),
        |ex AS (SELECT doc_id, unnest(shingles) AS shingle FROM sh),
        |ok AS (SELECT shingle FROM ex GROUP BY shingle HAVING count(*) <= 128),
        |exf AS (SELECT ex.doc_id, ex.shingle FROM ex JOIN ok USING (shingle)),
        |sizes AS (SELECT doc_id, len(shingles) AS nsh FROM sh),
        |pairs AS (
        |  SELECT x.doc_id AS doc_a, y.doc_id AS doc_b, count(*) AS common
        |  FROM exf x JOIN exf y ON x.shingle = y.shingle AND x.doc_id < y.doc_id
        |  GROUP BY 1, 2),
        |scored AS (
        |  SELECT doc_a, doc_b
        |  FROM pairs
        |  JOIN sizes sa ON sa.doc_id = doc_a
        |  JOIN sizes sb ON sb.doc_id = doc_b
        |  WHERE CAST(common AS DOUBLE) / (sa.nsh + sb.nsh - common) >= 0.6),
        |e AS (SELECT doc_a AS src, doc_b AS dst FROM scored
        |      UNION ALL
        |      SELECT doc_b AS src, doc_a AS dst FROM scored),
        |cc AS (
        |  SELECT DISTINCT src AS node, src AS label FROM e
        |  UNION
        |  SELECT e.dst AS node, cc.label FROM cc JOIN e ON e.src = cc.node),
        |lab AS (SELECT node, min(label) AS cluster_id FROM cc GROUP BY node),
        |keyed AS (
        |  SELECT d.doc_id, coalesce(lab.cluster_id, d.doc_id) AS k
        |  FROM documents d LEFT JOIN lab ON lab.node = d.doc_id)
        |SELECT doc_id,
        |  CASE WHEN (k % 1000003) * 2654435761 % 100 < 90 THEN 'train'
        |       WHEN (k % 1000003) * 2654435761 % 100 < 95 THEN 'validation'
        |       ELSE 'test' END AS split
        |FROM keyed""".stripMargin)
}
