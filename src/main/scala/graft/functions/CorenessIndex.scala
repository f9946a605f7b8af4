package graft.functions

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Persisted CORENESS labeling over the graph index — the k-core
  * decomposition ([[graft.operators.KCore.coreness]]; Seidman 1983,
  * Montresor et al. 2011) maintained incrementally, so the density
  * governance number behind cluster-level dedup decisions ("is this
  * near-dup cluster a duplicate COMMUNITY or a template-glued star")
  * is a label lookup, not a per-run data-dependent fixpoint over
  * corpus-scale edges (the in-job q_coreness re-peels the whole graph
  * every run — seconds at sf1, unbounded at 100 TB).
  *
  * Layout under a [[graft.operators.Versioned]] root (the
  * [[ClusterIndex]] discipline exactly):
  * {{{
  *   _v=N/labels/          (id, label, coreness) for every indexed doc
  *   _v=N/delta_K/labels/  REVISED rows for the K-th batch's touched
  *                         components (new + re-peeled ids)
  * }}}
  * Readers fold deltas last-writer-wins by id. The component label
  * rides ALONGSIDE coreness because the incremental update needs
  * pre-batch component membership to bound the re-peel — storing it
  * keeps the family self-contained (no ordering dependency on a
  * separately-maintained [[ClusterIndex]]).
  *
  * WHY the touched-component re-peel is exact: coreness is a
  * COMPONENT-LOCAL property (the k-core fixpoint never crosses a
  * disconnection), and [[GraphIndex]] guarantees every edge a batch
  * changed has BOTH endpoints in the batch's affected set A. So, as
  * in [[ClusterIndex]]'s closure argument, the subgraph induced by
  * `members` = (pre-batch components touching A) ∪ (new ids) is
  * closed under the post-batch edge set, every non-member's component
  * is structurally unchanged (its coreness stands), and re-running
  * the full coreness fixpoint on the induced subgraph alone — splits
  * included — reproduces the from-scratch decomposition exactly.
  * CorenessIndexSpec pins increment ≡ rebuild through growth, merge,
  * and band-crossing-split batches.
  *
  * Scale: the per-batch fixpoint runs on O(touched components) edges;
  * serving is a parquet read + metadata-scale fold.
  */
object CorenessIndex {

  private val labelsSchema = StructType(Seq(
    StructField("id", LongType), StructField("label", LongType),
    StructField("coreness", LongType)))

  private def readOrEmpty(spark: SparkSession, dir: String,
                          schema: StructType): DataFrame = {
    val p = new org.apache.hadoop.fs.Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(p)) spark.read.schema(schema).parquet(dir)
    else spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
  }

  /** (id, label, coreness) for the given vertex set over the given
    * canonical edge list — CC labels from propagation, coreness from
    * the h-index fixpoint, isolated vertices at coreness 0 — handed
    * to `use` so the propagation's persisted label table releases
    * deterministically afterwards.
    */
  private def decompose[T](vertices: DataFrame, edges: DataFrame)
                          (use: DataFrame => T): T = {
    val comps = graft.operators.ConnectedComponents
      .labelPropagation(vertices, edges)
    try {
      val cor = graft.operators.KCore.coreness(edges)
      use(comps.select(col("id"), col("comp").as("label"))
        .join(cor.hint("merge"), Seq("id"), "left")
        .select(col("id"), col("label"),
          coalesce(col("coreness"), lit(0L)).as("coreness")))
    } finally { comps.unpersist(); () }
  }

  /** Full decomposition of the graph index's current state, committed
    * as a fresh coreness-index version. `graphPath` must hold a
    * committed [[GraphIndex]]; every posting id gets a row (isolated
    * docs at coreness 0).
    */
  def writeIndex(spark: SparkSession, graphPath: String, path: String): String = {
    val gv = graft.operators.Versioned.committed(spark, graphPath,
      "graph index (GraphIndex.writeIndex)")
    val vertices = GraphIndex.readPostings(spark, gv).select("id").distinct()
    val edges = GraphIndex.readEdges(spark, gv).select("id_a", "id_b")
    decompose(vertices, edges) { out =>
      graft.operators.Versioned.commitNew(spark, path) { dir =>
        out.write.parquet(s"$dir/labels")
      }
    }
  }

  /** Current (id, label, coreness): base ∪ deltas, last writer
    * (highest delta ordinal) wins per id.
    */
  def readCoreness(spark: SparkSession, versionDir: String): DataFrame = {
    val deltas = graft.operators.Versioned.listDeltas(spark, versionDir)
    val base = readOrEmpty(spark, s"$versionDir/labels", labelsSchema)
      .withColumn("k", lit(0))
    val all = deltas.zipWithIndex.foldLeft(base) { case (acc, (d, i)) =>
      acc.unionAll(readOrEmpty(spark, s"$d/labels", labelsSchema)
        .withColumn("k", lit(i + 1)))
    }
    if (deltas.isEmpty) all.drop("k")
    else all.groupBy("id")
      .agg(max(struct(col("k"), col("label"), col("coreness"))).as("m"))
      .select(col("id"), col("m.label").as("label"),
        col("m.coreness").as("coreness"))
  }

  /** Incremental update from ONE committed [[GraphIndex]] append
    * delta: re-peel the touched components only and commit their
    * revised (id, label, coreness) rows as a delta. Call AFTER the
    * graph append commits, in append order. Idempotent content.
    */
  def updateFromDelta(spark: SparkSession, graphPath: String, path: String,
                      graphDeltaDir: String): String = {
    val gv = graft.operators.Versioned.committed(spark, graphPath,
      "graph index (GraphIndex.writeIndex)")
    val cv = graft.operators.Versioned.committed(spark, path,
      "coreness index (CorenessIndex.writeIndex)")
    // A = re-judged old docs + the batch's new docs
    val a = readOrEmpty(spark, s"$graphDeltaDir/affected",
        StructType(Seq(StructField("id", LongType))))
      .unionAll(readOrEmpty(spark, s"$graphDeltaDir/postings",
        StructType(Seq(StructField("id", LongType), StructField("h", LongType))))
        .select("id"))
      .distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val cur = readCoreness(spark, cv)
      val touchedRoots = cur.join(a, Seq("id"), "left_semi")
        .select(col("label")).distinct()
      val members = cur.join(touchedRoots.hint("merge"), Seq("label"), "left_semi")
        .select("id")
        .unionAll(a.select("id"))
        .distinct()
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      try {
        // closure argument (object doc): one endpoint semi-join
        // selects exactly the induced subgraph
        val edgesT = GraphIndex.readEdges(spark, gv)
          .join(members.withColumnRenamed("id", "id_a").hint("merge"),
            Seq("id_a"), "left_semi")
          .select("id_a", "id_b")
        decompose(members, edgesT) { out =>
          graft.operators.Versioned.commitDelta(spark, path, cv) { dir =>
            out.write.parquet(s"$dir/labels")
          }
        }
      } finally { members.unpersist(); () }
    } finally { a.unpersist(); () }
  }

  /** Fold base + deltas into a fresh deltaless version (resolution
    * inside the writer lock — the compactLexicalIndex discipline).
    */
  def compactIndex(spark: SparkSession, path: String): String =
    graft.operators.Versioned.commitNew(spark, path) { dir =>
      val vdir = graft.operators.Versioned.committed(spark, path,
        "coreness index (CorenessIndex.writeIndex)")
      readCoreness(spark, vdir).write.parquet(s"$dir/labels")
    }
}
