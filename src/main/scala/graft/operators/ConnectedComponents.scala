package graft.operators

import org.apache.spark.sql.{DataFrame, functions => F}


/** Distributed connected components over an edge list, via alternating
  * large-star / small-star rounds (Kiveris et al., "Connected Components in
  * MapReduce and Beyond", SoCC'14 — the standard shuffle-bounded formulation).
  *
  * This is the missing half of near-duplicate deduplication: MinHash/LSH and
  * shingle-Jaccard (q25/q26) emit dup PAIRS, but choosing which document to
  * KEEP needs the transitive closure — if A~B and B~C, then {A,B,C} is one
  * cluster even though A~C was never emitted. A driver-side union-find would
  * need every edge on one machine; at 100 TB the edge list is itself a big
  * distributed table, so the closure must be computed as Spark plans.
  *
  * Each round is two hash-shuffles on the node id (a groupBy computing each
  * node's min neighbour + an equi-join attaching it back) — no all-pairs
  * step, intermediate edge count never exceeds the input edge count
  * (large-star and small-star both map each edge to at most one edge), and
  * convergence is O(log n) alternating rounds on real graphs (proven
  * O(log² n) worst case). Per-round driver work is one scalar aggregate
  * (count + order-insensitive hash) to detect the fixed point — no edge data
  * ever reaches the driver.
  *
  * The fixed point is a forest of stars: every node points directly at its
  * component's minimum id, which becomes the canonical cluster id.
  */
object ConnectedComponents {

  /** @param edgesIn two numeric columns (renamed to u,v); undirected, self
    *                loops and duplicates tolerated.
    * @param smallGraphThreshold dedup'd edge counts at or below this solve
    *                driver-side with union-find in ONE pass instead of
    *                O(log n) distributed rounds — near-dup pair graphs are
    *                typically tiny relative to the corpus, and ~4M edges
    *                (≈64 MB) is a bounded, safe driver collect. Pass 0 to
    *                force the distributed path.
    * @return DataFrame(node, component) covering every node that appears in
    *         any edge; component = min node id of its connected component.
    *         Both output columns keep the input edge columns' type (Long
    *         ids give Long, Int or String ids give Int or String; when u
    *         and v differ, their common wider type).
    */
  def run(edgesIn: DataFrame, maxIterations: Int = 30,
          smallGraphThreshold: Long = 1L << 22): DataFrame = {
    val spark = edgesIn.sparkSession
    // Zero-job fast path (round-16 optimization): when the edge list is
    // ALREADY a driver-resident LocalRelation — the shape every
    // verified-edge builder in this repo hands over (they collect the tiny
    // verified pair set) — collect() is a driver-side LocalTableScan (no
    // Spark job), and the whole closure (orient, union-find, singleton
    // recovery) runs in-process, returning another LocalRelation. The
    // general path below spent ~0.8 s of pure job scaffolding
    // (localCheckpoint + count + collect + singleton join) on a 45-edge
    // input (sf0.1). Data already fits on the driver by
    // construction, so this changes job count, not memory posture; pass
    // smallGraphThreshold = 0 to force the distributed rounds (the
    // property specs' pin).
    val named0 = edgesIn.toDF("u", "v")
    // Gate on LONG edge columns (r16 ADVICE): the fast path returns Long
    // node/component columns, so an Int/String-id LocalRelation must fall
    // through to the distributed rounds below — which preserve the input
    // type — instead of silently changing the output schema (or throwing).
    val longIds = named0.schema.fields.forall(
      _.dataType == org.apache.spark.sql.types.LongType)
    if (smallGraphThreshold > 0 && longIds && named0.queryExecution.optimizedPlan
        .isInstanceOf[org.apache.spark.sql.catalyst.plans.logical.LocalRelation]) {
      val raw = named0.collect().map(r => (r.getLong(0), r.getLong(1)))
      val parent = scala.collection.mutable.HashMap.empty[Long, Long]
      def find(x: Long): Long = {
        var r = x
        while (parent.getOrElse(r, r) != r) r = parent(r)
        var c = x
        while (parent.getOrElse(c, c) != r) { val n = parent(c); parent(c) = r; c = n }
        r
      }
      raw.foreach { case (a, b) =>
        if (a != b) {
          val (ra, rb) = (find(a), find(b))
          if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
        }
      }
      // Every node appearing in ANY edge (self-loops included) is covered —
      // the same contract withSelfLoopSingletons enforces below.
      val nodes = raw.iterator.flatMap(e => Iterator(e._1, e._2)).toSet
      val rows = nodes.toSeq.map(n => org.apache.spark.sql.Row(n, find(n)))
      val schemaOut = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("node",
          org.apache.spark.sql.types.LongType, nullable = false),
        org.apache.spark.sql.types.StructField("component",
          org.apache.spark.sql.types.LongType, nullable = false)))
      return spark.createDataFrame(
        java.util.Arrays.asList(rows: _*), schemaOut)
    }
    // Materialize the INPUT edge list once: it is referenced again at the
    // end (singleton recovery needs the pre-cleanup node set), and the
    // upstream plan producing it is typically the expensive half of a dedup
    // job (q93 feeds the whole shingle-Jaccard pipeline in here) — without
    // this checkpoint that plan would execute twice.
    val base = edgesIn.toDF("u", "v").localCheckpoint(true)
    // Canonical big→small orientation; dedup so round cost is edge-bounded.
    val oriented = base
      .select(F.greatest(F.col("u"), F.col("v")).as("u"),
        F.least(F.col("u"), F.col("v")).as("v"))
      .filter(F.col("u") =!= F.col("v"))
      .distinct()

    // Order-insensitive fingerprint of the edge set: fixed point reached when
    // (count, xor of per-edge hashes) stops changing. XOR (not sum) because
    // the edge set is distinct — no duplicate to cancel — and it can't
    // overflow under ANSI arithmetic. One scalar row to the driver per round.
    def fingerprint(df: DataFrame): (Long, Long) = {
      val r = df.agg(
        F.count(F.lit(1)).as("n"),
        F.coalesce(F.bit_xor(F.xxhash64(F.col("u"), F.col("v"))), F.lit(0L)).as("h"))
        .head()
      (r.getLong(0), r.getLong(1))
    }

    // Small-graph fast path: the whole (dedup'd) edge set fits comfortably
    // on the driver, so one collect + union-find replaces ~2 log n Spark
    // jobs of round overhead. The distributed rounds below remain the path
    // for graphs that don't fit (and are what the property specs pin).
    // Size is probed with a count-only job over the checkpointed base —
    // the per-round fingerprint hash and the edge-set checkpoint are
    // skipped entirely on this path (round-8 verdict: eager-checkpoint +
    // fingerprint jobs dominated q93's tiny-graph runs).
    if (longIds && oriented.count() <= smallGraphThreshold) {
      val collected = oriented.collect().map(r => (r.getLong(0), r.getLong(1)))
      val parent = scala.collection.mutable.HashMap.empty[Long, Long]
      def find(x: Long): Long = {
        var r = x
        while (parent.getOrElse(r, r) != r) r = parent(r)
        var c = x
        while (parent.getOrElse(c, c) != r) { val n = parent(c); parent(c) = r; c = n }
        r
      }
      collected.foreach { case (a, b) =>
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      val nodes = collected.iterator.flatMap(e => Iterator(e._1, e._2)).toSet
      val rows = nodes.iterator.map(n => org.apache.spark.sql.Row(n, find(n))).toSeq
      val schemaOut = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("node",
          org.apache.spark.sql.types.LongType, nullable = false),
        org.apache.spark.sql.types.StructField("component",
          org.apache.spark.sql.types.LongType, nullable = false)))
      val labels = spark.createDataFrame(
        spark.sparkContext.parallelize(rows, 1), schemaOut)
      // Materialize the (small) label set, then RELEASE the checkpointed
      // edge input — without this every run() pinned the full edge list in
      // block-manager storage for the session's lifetime.
      val out = withSelfLoopSingletons(base, labels).localCheckpoint(true)
      base.unpersist()
      return out
    }

    // Distributed path: each round's result is localCheckpoint'ed — without
    // truncation the logical plan grows ~8× per round (self-union + two
    // joins over the previous round's plan) and the driver OOMs on plan
    // trees long before any data pressure. Lineage truncation is the
    // standard requirement of iterative Spark graph algorithms (a durable
    // checkpoint dir is the cluster-grade variant when executor loss must
    // be survivable mid-run).
    var edges = oriented.localCheckpoint(true)
    var fp = fingerprint(edges)
    var iter = 0
    var converged = false
    while (!converged && iter < maxIterations) {
      // Large-star: over the symmetric neighbourhood of u, attach every
      // strictly-larger neighbour v to m = min(N(u) ∪ {u}). Keeps big→small
      // orientation (v > u ≥ m) and halves long chains' height.
      val sym = edges.union(edges.select(F.col("v").as("u"), F.col("u").as("v")))
      val lsMin = sym.groupBy("u")
        .agg(F.least(F.min(F.col("v")), F.first(F.col("u"))).as("m"))
      val large = sym.join(lsMin, "u")
        .filter(F.col("v") > F.col("u"))
        .select(F.col("v").as("u"), F.col("m").as("v"))
        .distinct()
      // Small-star: edges are now all big→small; attach every smaller
      // neighbour (and u itself) to m = min of u's smaller neighbours.
      val ssMin = large.groupBy("u").agg(F.min(F.col("v")).as("m"))
      val next = large.join(ssMin, "u")
        .select(F.col("v").as("u"), F.col("m").as("v"))
        .union(ssMin.select(F.col("u"), F.col("m").as("v")))
        .filter(F.col("u") =!= F.col("v"))
        .distinct()
        .localCheckpoint(true)
      val nfp = fingerprint(next)
      edges.unpersist()
      edges = next
      converged = nfp == fp
      fp = nfp
      iter += 1
    }
    require(converged, s"connected components did not converge in $maxIterations rounds")

    // At the fixed point every non-root node appears exactly once as u with
    // its root as v; roots appear only on the v side.
    val labels = edges.select(F.col("u").as("node"), F.col("v").as("component"))
      .union(edges.select(F.col("v").as("node"), F.col("v").as("component")).distinct())
    // Labels are node→component pairs (≤ 2·|edges| rows, usually far
    // fewer): materialize them, then release the checkpointed inputs.
    val out = withSelfLoopSingletons(base, labels).localCheckpoint(true)
    edges.unpersist()
    base.unpersist()
    out
  }

  /** Honour the full contract: nodes whose only edges were self-loops (or
    * duplicates thereof) vanished in the initial cleanup but still "appear
    * in an edge" — they are their own singleton components.
    */
  private def withSelfLoopSingletons(edgesIn: DataFrame, labels: DataFrame): DataFrame = {
    val inputNodes = edgesIn.toDF("u", "v")
      .select(F.explode(F.array(F.col("u"), F.col("v"))).as("node"))
      .distinct()
    inputNodes.join(labels, Seq("node"), "left")
      .select(F.col("node"),
        F.coalesce(F.col("component"), F.col("node")).as("component"))
  }
}
