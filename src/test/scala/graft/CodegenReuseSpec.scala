package graft

import org.apache.spark.metrics.source.CodegenMetrics
import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.Files
import scala.jdk.CollectionConverters._

/** Pins graft's generated-code cache sizing (see [[Sessions]]): a
  * second curation pass in the same JVM must reuse the classes the
  * first pass compiled. At Spark's default cache size (100 entries)
  * the pass's working set does not fit, so every pass evicts and
  * recompiles its own classes.
  *
  * The passes run in a fresh JVM ([[CodegenReuseMain]]): the cache is
  * JVM-wide, so in the suite's shared JVM the first pass would find
  * classes other suites compiled and no longer measure the working set.
  */
class CodegenReuseSpec extends AnyFunSuite {

  test("a second curation pass reuses the classes the first pass compiled") {
    val jvmArgs = java.lang.management.ManagementFactory.getRuntimeMXBean
      .getInputArguments.asScala.filterNot(a => a.startsWith("-Xmx") ||
        a.startsWith("-agentlib") || a.startsWith("-javaagent"))
    val work = Files.createTempDirectory("graft-codegen-reuse")
    val cmd = Seq(s"${sys.props("java.home")}/bin/java") ++ jvmArgs ++ Seq("-Xmx2g",
      "-cp", sys.props("java.class.path"), CodegenReuseMain.getClass.getName.stripSuffix("$"),
      work.toString)
    val log = work.resolve("child.log").toFile
    val child = new ProcessBuilder(cmd: _*).redirectErrorStream(true)
      .redirectOutput(log).start()
    val finished = child.waitFor(600, java.util.concurrent.TimeUnit.SECONDS)
    if (!finished) child.destroyForcibly()
    assert(finished, "child JVM timed out")
    val out = scala.io.Source.fromFile(log).getLines().toList
    val counts = out.collectFirst { case l if l.startsWith(CodegenReuseMain.Marker) =>
      l.stripPrefix(CodegenReuseMain.Marker).trim.split(' ').map(_.toLong) }
    assert(child.exitValue() == 0 && counts.isDefined,
      s"child JVM failed:\n${out.takeRight(30).mkString("\n")}")
    val Array(first, second) = counts.get
    info(s"codegen compiles: first pass $first, second pass $second")
    // the pair's working set is above Spark's default cache size —
    // the case the sizing exists for
    assert(first > 100, s"first pass compiled only $first classes")
    // AQE may renumber a few codegen stages between passes
    assert(second <= first / 10,
      s"second pass compiled $second classes, first $first: the " +
        "generated-code cache does not hold one pass's working set")
  }

  test("the cache size is asked for only when the user has not set it") {
    val key = "spark.sql.codegen.cache.maxEntries"
    val saved = sys.props.get(key)
    try {
      sys.props -= key
      assert(Sessions.codegenCacheConf ===
        Map(key -> Sessions.CodegenCacheEntries.toString))
      sys.props(key) = "4096" // what `--conf` or `-D` leaves behind
      assert(Sessions.codegenCacheConf.isEmpty)
    } finally saved match {
      case Some(v) => sys.props(key) = v
      case None => sys.props -= key
    }
  }
}

/** Two batch-curation passes (the curation funnel, then minhash
  * clustering) through the test session in a fresh JVM; prints the
  * codegen compiles of each pass after [[Marker]].
  */
object CodegenReuseMain {
  val Marker = "codegen-compiles:"

  def main(args: Array[String]): Unit = {
    val spark = SparkTestSession.spark
    spark.sparkContext.setLogLevel("ERROR")
    import spark.implicits._
    // 360 docs: 300 distinct texts over a small English vocabulary,
    // 30 exact copies and 30 near copies, in one parquet file
    val words = ("the of and to in is that for it as was with be by on not he this " +
      "are or his from at which but have an they you were her she there been one " +
      "all we their has would when if so no will more out up into do any your what")
      .split(' ')
    val rnd = new scala.util.Random(11)
    val base = Seq.fill(300)(
      Seq.fill(12 + rnd.nextInt(40))(words(rnd.nextInt(words.length))).mkString(" "))
    val texts = base ++ base.take(30) ++ base.slice(30, 60).map(_ + " again")
    val dir = args(0)
    texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")
      .coalesce(1).write.parquet(s"$dir/documents.parquet")

    def compiles(f: => Unit): Long = {
      val h = CodegenMetrics.METRIC_COMPILATION_TIME
      val c0 = h.getCount
      f
      h.getCount - c0
    }
    def curationPass(): Unit = {
      SparkEntry.queries("q_curate_e2e")(spark, dir).collect()
      graft.plans.CacheHandles.releaseAllBlocking()
      SparkEntry.queries("q_minhash_clusters")(spark, dir)
        .write.mode("overwrite").format("noop").save()
      graft.plans.CacheHandles.releaseAllBlocking()
    }
    val first = compiles(curationPass())
    val second = compiles(curationPass())
    println(s"$Marker $first $second")
    spark.stop()
  }
}
