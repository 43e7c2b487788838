package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, LongType}
import scala.util.control.NonFatal

/** Near-duplicate CLUSTER resolution: pair generators (exact Jaccard,
  * MinHash LSH, SimHash) emit edges; keeping one doc per duplicate GROUP
  * needs the connected components of that graph.
  *
  * Scale shape: the iteration state is proportional to the EDGE-TOUCHED
  * node set (docs that appear in at least one near-dup pair), never the
  * corpus — singletons keep their own id and are attached with one final
  * left join. A 100 TB corpus with a 0.1% duplicate rate iterates over
  * 0.2% of the ids. Below a configurable edge threshold the components
  * are solved by union-find on the driver (two longs per edge; the edge
  * relation after verification is tiny relative to the corpus) and
  * broadcast back — one collect + one broadcast join instead of a
  * multi-round loop. Above it, iterative min-label propagation with
  * pointer jumping (each round: neighbor-min join + label(label) jump),
  * converging in O(log diameter) rounds. The loop is driver-CONTROLLED
  * but data never leaves the cluster: the driver sees only the
  * changed-row count per round.
  */
object DedupClusters {

  /** (doc_id, cluster_id) for every doc in `docs`: cluster_id = the
    * smallest doc_id reachable through `pairs` (i,j edges); singletons
    * keep their own id. Deterministic for any edge set.
    *
    * `driverEdgeLimit`: max number of (i,j) pairs solved driver-side
    * (long ids only). 2M pairs ≈ 32 MB collected — well under driver
    * headroom; set 0 to force the distributed loop.
    */
  def connectedComponents(docs: DataFrame, pairs: DataFrame,
      maxIter: Int = 50, driverEdgeLimit: Long = 2_000_000L): DataFrame = {
    val idType = docs.schema("doc_id").dataType
    val integralIds = idType == LongType || idType == IntegerType
    // Fast-path probe: ONE bounded action. Collecting limit+1 un-doubled
    // pairs both fetches the edges AND answers "does the driver path
    // apply" — union-find needs each undirected edge once, so there is no
    // reason to build (or count, or checkpoint) the doubled src/dst
    // relation first. Overflow (limit+1 rows came back) or non-integral
    // ids fall through to the distributed loop, which is the only
    // consumer that needs both edge directions.
    val capped = math.min(driverEdgeLimit, Int.MaxValue - 2L).toInt
    val collected: Option[Array[org.apache.spark.sql.Row]] =
      if (integralIds && capped > 0) {
        // limit+collect normally ramps up partitions incrementally (1, 4,
        // 16, ...) — a fine strategy for a LIMIT 10 a scan can satisfy
        // early, but here the upstream is a full pair-generation pipeline
        // whose shuffles have already run, so each extra wave is pure
        // scheduling overhead. Pin the initial partition count high FOR
        // THIS ACTION ONLY so the bounded collect is one job. The pin
        // lives on a thread-local CLONE of the session's SQLConf
        // (executeTake reads SQLConf.get, which prefers the thread-local
        // override) — the shared session conf is never mutated, so
        // concurrent queries on this session and sessions cloned via
        // newSession() (the gateway does this per request, and its
        // injected LIMITs rely on early-stopping over raw scans) cannot
        // observe or inherit the setting.
        val pinned = org.apache.spark.sql.internal.SQLConf.get.clone()
        pinned.setConfString("spark.sql.limit.initialNumPartitions",
          Int.MaxValue.toString)
        Some(org.apache.spark.sql.internal.SQLConf.withExistingConf(pinned) {
          pairs.select(col("i").cast("long"), col("j").cast("long"))
            .limit(capped + 1).collect()
        })
      } else None

    collected match {
      case Some(rows) if rows.length <= capped =>
        driverUnionFind(docs, rows, idType)
      case _ =>
        // Eager checkpoint: materializes the (tiny) edge relation ONCE and
        // truncates its lineage, so no per-round job DAG re-embeds the
        // pair generator's plan (for verified-duplicate edges that is the
        // whole PPJoin pipeline).
        val edges = pairs.select(col("i").as("src"), col("j").as("dst"))
          .union(pairs.select(col("j").as("src"), col("i").as("dst")))
          .localCheckpoint()
        val labelled = distributedLabelProp(docs, edges, maxIter)
        freeCheckpoint(edges)
        labelled
    }
  }

  /** Fast path: union-find over the collected edge list (representative =
    * component minimum via min-root union), broadcast the non-singleton
    * (id -> min) map back, left-join. One Spark action + one broadcast
    * join regardless of component diameter.
    */
  private def driverUnionFind(docs: DataFrame, edgeRows: Array[org.apache.spark.sql.Row],
      idType: org.apache.spark.sql.types.DataType): DataFrame = {
    val parent = scala.collection.mutable.LongMap.empty[Long]
    def root(x: Long): Long = {
      var r = x
      while (parent.getOrElse(r, r) != r) r = parent(r)
      // Path compression: point every node on the walk at the root.
      var c = x
      while (parent.getOrElse(c, c) != c) { val n = parent(c); parent(c) = r; c = n }
      r
    }
    edgeRows.foreach { row =>
      val (ra, rb) = (root(row.getLong(0)), root(row.getLong(1)))
      if (ra < rb) parent(rb) = ra else if (rb < ra) parent(ra) = rb
    }
    val mapping = parent.keys.toSeq.map(id => (id, root(id))).filter(t => t._1 != t._2)
    val spark = docs.sparkSession
    import spark.implicits._
    val mapDf = mapping.toDF("m_id", "m_label")
      .select(col("m_id").cast(idType), col("m_label").cast(idType))
    docs.select(col("doc_id")).distinct()
      .join(broadcast(mapDf), col("doc_id") === col("m_id"), "left")
      .select(col("doc_id"), coalesce(col("m_label"), col("doc_id")).as("cluster_id"))
  }

  /** Distributed path: min-label propagation restricted to edge-touched
    * nodes, with a pointer-jumping step (label <- label(label), valid
    * because a label is always some node's id) that collapses chains
    * exponentially — O(log diameter) rounds. `localCheckpoint` truncates
    * the plan each round; without it every iteration's logical plan
    * embeds all prior rounds and Catalyst analysis grows quadratically.
    */
  private def distributedLabelProp(docs: DataFrame, edges: DataFrame,
      maxIter: Int): DataFrame = {
    // Only nodes with at least one edge can change label; everything else
    // is a singleton attached after the loop. Keeps per-round state
    // proportional to duplicates, not corpus size.
    var labels = edges.select(col("src").as("id"))
      .distinct()
      .withColumn("label", col("id"))
      .localCheckpoint()
    var retired = List.empty[DataFrame]
    var changed = 1L
    var iter = 0
    while (changed > 0 && iter < maxIter) {
      val neighborMin = edges
        .join(labels, col("dst") === col("id"))
        .groupBy(col("src"))
        .agg(min(col("label")).as("nlabel"))
      // Neighbor-min step (carrying the previous label for the convergence
      // check), checkpointed BEFORE the pointer jump: the self-join below
      // consumes `stepped` on both sides, and without materialization the
      // join+aggregate above would run twice per round.
      val stepped = labels
        .join(neighborMin, col("id") === col("src"), "left")
        .select(col("id"),
          least(col("label"), coalesce(col("nlabel"), col("label"))).as("label"),
          col("label").as("prev"))
        .localCheckpoint()
      // Pointer jump over the materialized step, then a shuffle-free
      // changed-count on the checkpointed result.
      val next = stepped
        .join(stepped.select(col("id").as("jid"), col("label").as("jlabel")),
          col("label") === col("jid"), "left")
        .select(col("id"),
          coalesce(col("jlabel"), col("label")).as("label"),
          col("prev"))
        .localCheckpoint()
      changed = next.filter(col("label") =!= col("prev")).count()
      // Prior rounds' checkpoint blocks are no longer reachable from the
      // live plan — free them now instead of waiting for the GC-driven
      // ContextCleaner, which lets storage accumulate across rounds on a
      // big corpus.
      retired.foreach(freeCheckpoint)
      retired = List(labels, stepped)
      labels = next.select(col("id"), col("label"))
      iter += 1
    }
    val out = docs.select(col("doc_id")).distinct()
      .join(labels.select(col("id"), col("label")), col("doc_id") === col("id"), "left")
      .select(col("doc_id"), coalesce(col("label"), col("doc_id")).as("cluster_id"))
    retired.foreach(freeCheckpoint)
    out
  }

  /** Drop the storage blocks behind a localCheckpoint'd DataFrame. The
    * checkpointed RDD hangs off the plan's LogicalRDD leaf; DataFrame
    * .unpersist only touches CacheManager entries, not checkpoint blocks.
    */
  private def freeCheckpoint(df: DataFrame): Unit =
    try df.queryExecution.analyzed.foreach {
      case l: org.apache.spark.sql.execution.LogicalRDD => l.rdd.unpersist(false)
      case _ => ()
    } catch { case NonFatal(_) => () }

  /** Quality-aware dedup keep: ONE survivor per duplicate cluster — the
    * highest-scoring doc (ties to the smallest id) rather than the
    * min-id survivor exact dedup defaults to. This is the curation form
    * of dedup: among near-duplicates, keep the best-written copy.
    *
    * `scores` is (doc_id, quality); determinism requires the score be
    * engine-reproducible (qualityScore's fixed-order doubles are). Docs
    * absent from `scores` still compete — with a NULL quality that sorts
    * last — so a cluster whose members are all unscored still keeps its
    * smallest id rather than vanishing from the output.
    *
    * Scale shape: cluster assignment is [[connectedComponents]] (edge-
    * touched iteration); the argmax is a max_by HASH aggregate on
    * cluster_id — partially combined map-side, so the shuffle carries
    * one candidate row per (partition, cluster), and nothing ever
    * sorts. The ordering key (has-score flag, quality, negated id)
    * encodes exactly "quality DESC NULLS LAST, doc_id ASC": the leading
    * boolean puts every scored doc above every unscored one — no -inf
    * sentinel, so a REAL quality of -Infinity still outranks a missing
    * score — and a cluster of all-unscored docs keeps its smallest id.
    */
  def bestPerCluster(docs: DataFrame, pairs: DataFrame,
      scores: DataFrame): DataFrame =
    connectedComponents(docs, pairs)
      .join(scores, Seq("doc_id"), "left")
      .groupBy(col("cluster_id"))
      .agg(max_by(
        struct(col("doc_id"), col("quality")),
        struct(col("quality").isNotNull.as("has"),
          coalesce(col("quality"), lit(0.0)).as("q"),
          (-col("doc_id")).as("nid"))).as("best"))
      .select(col("cluster_id"),
        col("best.doc_id").as("doc_id"), col("best.quality").as("quality"))

  /** Cluster-size histogram (r12) — the dedup QA card a pipeline
    * publishes with its release: duplicate-cluster sizes bucketed by BIT
    * LENGTH (bucket b holds clusters of 2^b..2^(b+1)−1 members — exact
    * integers via the `length(bin(n)) - 1` trick, so any engine derives
    * identical buckets), with the cluster count and total documents per
    * bucket. Singletons land in bucket 0; a corpus with a pathological
    * mega-cluster shows up as a populated high bucket — the signal this
    * card exists to surface before training.
    *
    * Scale shape: [[connectedComponents]]'s labeling, then two map-side-
    * combinable aggregates (per-cluster count → per-bucket counts); the
    * output is log2(corpus)-bounded (≤ ~40 rows at any scale). Returns
    * (size_bits, n_clusters, n_docs).
    */
  def clusterSizeHistogram(docs: DataFrame, pairs: DataFrame): DataFrame =
    connectedComponents(docs, pairs)
      .groupBy(col("cluster_id")).agg(count(lit(1)).as("sz"))
      .groupBy((length(bin(col("sz"))) - 1).cast("int").as("size_bits"))
      .agg(count(lit(1)).cast("long").as("n_clusters"),
        sum(col("sz")).cast("long").as("n_docs"))
}
