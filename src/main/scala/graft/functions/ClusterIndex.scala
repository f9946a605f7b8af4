package graft.functions

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Persisted near-dup CLUSTER labeling over the graph index — stable
  * connected-component labels (min doc id per component) maintained
  * incrementally as the corpus grows, so "which canonical document
  * does this near-dup collapse into" is a lookup, not a per-run CC
  * fixpoint over corpus-scale edges.
  *
  * Layout under a [[graft.operators.Versioned]] root (atomic pointer,
  * writer `_LOCK`, crash-safe deltas — the GraphIndex discipline):
  * {{{
  *   _v=N/labels/     (id, label) for every indexed document
  *   _v=N/delta_K/labels/  REVISED (id, label) for the K-th batch's
  *                         touched components (new + re-labeled ids)
  * }}}
  * Readers fold deltas last-writer-wins by id (per-id max delta
  * ordinal) — two columns of metadata-scale data, never text.
  *
  * WHY the touched-component recomputation is exact: GraphIndex
  * guarantees that every edge whose existence a batch changed
  * (created OR deleted — df-band crossings do both) has BOTH
  * endpoints in the batch's affected set A. Unchanged edges connect
  * vertices of the same PRE-batch component. So the subgraph induced
  * by `members` = { ids labeled with the pre-batch component of any
  * id in A } ∪ { the batch's new ids } is CLOSED under the post-batch
  * edge set: no current edge leaves `members`, and every changed edge
  * lies inside it. Recomputing CC on that induced subgraph — including
  * the SPLITS an edge deletion causes, which forward label
  * propagation alone could never undo — and overwriting only those
  * ids' labels reproduces the full rebuild exactly. ClusterIndexSpec
  * pins increment ≡ rebuild through merge, growth, and
  * band-crossing-deletion batches.
  *
  * Scale: the per-batch shuffle is O(batch + touched components);
  * reads scan the committed edge/label tables (linear, pruned by
  * semi-joins, never a corpus-wide shuffle).
  */
object ClusterIndex {

  private val labelsSchema = StructType(Seq(
    StructField("id", LongType), StructField("label", LongType)))

  private def readOrEmpty(spark: SparkSession, dir: String,
                          schema: StructType): DataFrame = {
    val p = new org.apache.hadoop.fs.Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(p)) spark.read.schema(schema).parquet(dir)
    else spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
  }

  /** Full CC labeling of the graph index's current state, committed
    * as a fresh cluster-index version. `graphPath` must hold a
    * committed [[GraphIndex]]; every posting id gets a label
    * (isolated docs label themselves).
    */
  def writeIndex(spark: SparkSession, graphPath: String, path: String): String = {
    val gv = graft.operators.Versioned.committed(spark, graphPath,
      "graph index (GraphIndex.writeIndex)")
    val vertices = GraphIndex.readPostings(spark, gv).select("id").distinct()
    val edges = GraphIndex.readEdges(spark, gv).select("id_a", "id_b")
    val comps = graft.operators.ConnectedComponents.labelPropagation(vertices, edges)
    try {
      graft.operators.Versioned.commitNew(spark, path) { dir =>
        comps.select(col("id"), col("comp").as("label"))
          .write.parquet(s"$dir/labels")
      }
    } finally { comps.unpersist(); () }
  }

  /** Current labels: base ∪ deltas, last writer (highest delta
    * ordinal) wins per id.
    */
  def readLabels(spark: SparkSession, versionDir: String): DataFrame = {
    val deltas = graft.operators.Versioned.listDeltas(spark, versionDir)
    val base = readOrEmpty(spark, s"$versionDir/labels", labelsSchema)
      .withColumn("k", lit(0))
    val all = deltas.zipWithIndex.foldLeft(base) { case (acc, (d, i)) =>
      acc.unionAll(readOrEmpty(spark, s"$d/labels", labelsSchema)
        .withColumn("k", lit(i + 1)))
    }
    if (deltas.isEmpty) all.drop("k")
    else all.groupBy("id")
      .agg(max(struct(col("k"), col("label"))).as("m"))
      .select(col("id"), col("m.label").as("label"))
  }

  /** Incremental update from ONE committed GraphIndex append delta
    * (the dir [[GraphIndex.appendIndex]] returned): recompute labels
    * for the touched components only and commit them as a cluster
    * delta. Call AFTER the graph append commits, in append order.
    * Returns the committed cluster delta dir. Re-running for the same
    * graph delta recomputes identical labels (idempotent content).
    */
  def updateFromDelta(spark: SparkSession, graphPath: String, path: String,
                      graphDeltaDir: String): String = {
    val gv = graft.operators.Versioned.committed(spark, graphPath,
      "graph index (GraphIndex.writeIndex)")
    val cv = graft.operators.Versioned.committed(spark, path,
      "cluster index (ClusterIndex.writeIndex)")
    // A = re-judged old docs + the batch's new docs
    val a = readOrEmpty(spark, s"$graphDeltaDir/affected",
        StructType(Seq(StructField("id", LongType))))
      .unionAll(readOrEmpty(spark, s"$graphDeltaDir/postings",
        StructType(Seq(StructField("id", LongType), StructField("h", LongType))))
        .select("id"))
      .distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val cur = readLabels(spark, cv)
      val touchedRoots = cur.join(a, Seq("id"), "left_semi")
        .select(col("label")).distinct()
      val members = cur.join(touchedRoots.hint("merge"), Seq("label"), "left_semi")
        .select("id")
        .unionAll(a.select("id"))
        .distinct()
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      try {
        // closure argument (object doc): every current edge incident
        // to a member has its other endpoint in members too, so one
        // endpoint semi-join selects exactly the induced subgraph
        val edgesT = GraphIndex.readEdges(spark, gv)
          .join(members.withColumnRenamed("id", "id_a").hint("merge"),
            Seq("id_a"), "left_semi")
          .select("id_a", "id_b")
        val comps = graft.operators.ConnectedComponents
          .labelPropagation(members, edgesT)
        try {
          graft.operators.Versioned.commitDelta(spark, path, cv) { dir =>
            comps.select(col("id"), col("comp").as("label"))
              .write.parquet(s"$dir/labels")
          }
        } finally { comps.unpersist(); () }
      } finally { members.unpersist(); () }
    } finally { a.unpersist(); () }
  }

  /** Fold base + deltas into a fresh deltaless version. Resolution
    * happens inside the writer lock (the compactLexicalIndex
    * discipline — a rebuild landing between an outside resolve and
    * the lock would be silently erased).
    */
  def compactIndex(spark: SparkSession, path: String): String =
    graft.operators.Versioned.commitNew(spark, path) { dir =>
      val vdir = graft.operators.Versioned.committed(spark, path,
        "cluster index (ClusterIndex.writeIndex)")
      readLabels(spark, vdir).write.parquet(s"$dir/labels")
    }
}
