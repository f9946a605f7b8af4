package graft

import org.apache.spark.SparkConf
import org.apache.spark.sql.SparkSession

/** SparkSession factory with graft's recommended defaults: AQE on
  * (runtime re-planning, skew-join splitting, partition coalescing),
  * shuffle partitions sized to the local core count rather than the
  * 200 default, UTC session time, and graft's SQL functions
  * registered. On a real cluster the same builder applies — only
  * `master` and the shuffle-partition count (≈ 2-3× total cores)
  * change.
  *
  * Session defaults: besides the above, [[builder]] sizes Spark's
  * JVM-wide generated-code cache (`spark.sql.codegen.cache.maxEntries`,
  * Spark default 100, LRU) to [[CodegenCacheEntries]]. graft's working
  * set is far larger than 100: one batch-curation pass (`q_curate_e2e`
  * + `q_minhash_clusters`) compiles about 215 classes, and one Verify
  * pass over all 193 queries at sf0.01 compiled 4,968 classes at 100
  * entries against 2,722 at 2048. At 100 entries every repeated pass
  * evicts and recompiles its own classes (then JITs them again); a timed
  * curation pass spent about a third of its CPU doing that. The conf is
  * STATIC: `CodeGenerator` reads it once per JVM, when the first class
  * is compiled. A session built any other way must therefore carry it
  * from the start, either on its builder or as
  * `--conf spark.sql.codegen.cache.maxEntries=…` (a system property);
  * setting it on a running session does nothing. A value the user
  * already set that way is left as it is.
  */
object Sessions {
  /** Generated-code cache size every graft session asks for: about ten
    * curation passes' working sets, so repeated passes and repeated runs
    * of a query reuse their compiled classes.
    */
  val CodegenCacheEntries = 2048
  private val CodegenCacheKey = "spark.sql.codegen.cache.maxEntries"

  /** The cache-size conf for a session builder; empty when the user
    * already set the key (`--conf` or `-D`).
    */
  def codegenCacheConf: Map[String, String] =
    if (new SparkConf().contains(CodegenCacheKey)) Map.empty
    else Map(CodegenCacheKey -> CodegenCacheEntries.toString)

  /** A builder carrying every graft session default; callers add their
    * own confs and call `getOrCreate()`.
    */
  def builder(cores: Int = Runtime.getRuntime.availableProcessors(),
              appName: String = "graft"): SparkSession.Builder =
    SparkSession.builder()
      .master(s"local[$cores]")
      .appName(appName)
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config(codegenCacheConf)

  def local(cores: Int = Runtime.getRuntime.availableProcessors(),
            appName: String = "graft"): SparkSession = {
    val spark = builder(cores, appName).getOrCreate()
    graft.plans.GraftExtensions.register(spark)
    graft.plans.ScaleGuard.register(spark) // plan lint, warn mode
    spark
  }
}
