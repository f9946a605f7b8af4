package graft

import org.apache.spark.sql.SparkSession

import java.nio.file.{Files, Paths}
import java.util.concurrent.{Executors, TimeoutException}
import scala.concurrent.duration._
import scala.concurrent.{Await, ExecutionContext, Future}

/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare.
  *
  * Each query runs under its own job group with a per-query timeout
  * (SPARK_GRAFT_QUERY_TIMEOUT seconds, default 240) so one hung query
  * cannot zero the whole round's correctness results.
  */
object Verify {
  def main(args: Array[String]): Unit = {
    // optional 3rd arg: comma-separated query-name filter for fast
    // local iteration (the driver always passes exactly two)
    val Array(sfDir, outDir) = args.take(2)
    val only: Option[Set[String]] =
      if (args.length > 2) Some(args(2).split(",").toSet) else None
    def selected(name: String): Boolean = only.forall(_.contains(name))
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config(Sessions.codegenCacheConf)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // dogfood the plan lint across every gated query: an
    // empty-partition window sneaking into a query shows up as a
    // ScaleGuard warning in this run's log
    graft.plans.ScaleGuard.register(spark)
    new java.io.File(outDir).mkdirs()

    val timeout = sys.env.getOrElse("SPARK_GRAFT_QUERY_TIMEOUT", "240").toInt.seconds
    SparkEntry.queries.filter(kv => selected(kv._1)).foreach { case (name, fn) =>
      val group = s"verify-$name"
      // fresh daemon thread per query: a query hung in DRIVER-side code
      // (where cancelJobGroup reaches nothing) must not block the
      // thread later queries run on — with a shared single worker every
      // subsequent query would queue behind the zombie and time out
      val es = Executors.newSingleThreadExecutor { r =>
        val t = new Thread(r, s"graft-verify-$name"); t.setDaemon(true); t
      }
      val fut = Future {
        spark.sparkContext.setJobGroup(group, name, interruptOnCancel = true)
        try fn(spark, sfDir).coalesce(1).write.mode("overwrite").parquet(s"$outDir/$name")
        finally spark.sparkContext.clearJobGroup()
      }(ExecutionContext.fromExecutorService(es))
      try Await.result(fut, timeout)
      catch {
        case _: TimeoutException =>
          spark.sparkContext.cancelJobGroup(group)
          es.shutdownNow() // interrupt driver-side work too
          System.err.println(s"[verify] $name TIMED OUT after $timeout")
        case e: Throwable =>
          System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
      finally {
        es.shutdown()
        // same cross-query cache hygiene as Bench: internally-persisted
        // blocks must not accumulate across the 150-query gate — the
        // CacheHandles registry releases exactly the lazy-return
        // persists (formerly a blanket clearCache)
        try { graft.plans.CacheHandles.releaseAll(); () }
        catch { case _: Throwable => () }
      }
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .filter(kv => selected(kv._1))
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // full declared-query list, so the gate can report MISSING for a
    // query that failed before writing any output (otherwise it would
    // silently shrink the N/N denominator instead of failing)
    val names = SparkEntry.queries.keys.toSeq.filter(selected).sorted
      .map(q).mkString("[", ",", "]")
    Files.writeString(Paths.get(s"$outDir/queries.json"), names)
    // a filtered local run writes a marker so its artifact set can never
    // be mistaken for (or graded as) a full gate run with a silently
    // shrunken N/N denominator; a full run REMOVES any stale marker so
    // a reused outDir converges to the truthful state either way
    val marker = Paths.get(s"$outDir/filtered.json")
    only match {
      case Some(f) => Files.writeString(marker,
        f.toSeq.sorted.map(q).mkString("{\"filtered\":[", ",", "]}"))
      case None => Files.deleteIfExists(marker)
    }
    spark.stop()
  }
}
