package graft.functions

import graft.SparkTestSession
import graft.operators.Versioned
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.graftbridge.Bridge
import org.scalatest.funsuite.AnyFunSuite

/** Pins the one-scan index read ([[Versioned.readTable]]): a base
  * plus D deltas plans as ONE file scan and launches no job before
  * its action, whatever D is. The per-delta
  * `unionByName(spark.read.parquet …)` shape paid a schema-inference
  * job and a plan branch per delta.
  */
class IndexScanSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  /** `f`'s result and the number of jobs started while it ran. */
  private def jobsDuring[A](f: => A): (A, Int) = {
    val sc = spark.sparkContext
    val n = new java.util.concurrent.atomic.AtomicInteger
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = { n.incrementAndGet(); () }
    }
    Bridge.drainListeners(sc)
    sc.addSparkListener(l)
    try {
      val a = f
      Bridge.drainListeners(sc)
      (a, n.get)
    } finally sc.removeSparkListener(l)
  }

  /** File-scan leaves of the physical plan (planning runs no job). */
  private def fileScans(df: DataFrame): Int =
    df.queryExecution.sparkPlan.collect { case s: FileSourceScanExec => s }.size

  private def tmp(name: String): String =
    java.nio.file.Files.createTempDirectory(name).toString

  for (d <- Seq(0, 1, 5))
    test(s"hash index with $d deltas reads as one file scan and runs no job before its action") {
      val root = tmp(s"graft_scan_$d")
      val vdir = Dedup.writeHashIndex((1L to 3L).toDF("h"), root)
      (1 to d).foreach { i =>
        Dedup.appendHashIndex(spark, root, vdir, Seq(100L + i).toDF("h"))
      }
      assert(Versioned.listDeltas(spark, vdir).size == d)
      val want = ((1L to 3L) ++ (1 to d).map(100L + _)).toSet
      // footer-derived schema, then the caller's fixed schema
      Seq(None, Some(Dedup.SpanIndexSchema)).foreach { schema =>
        val ((df, scans), jobs) = jobsDuring {
          val df = Dedup.readHashIndex(spark, vdir, schema = schema)
          (df, fileScans(df))
        }
        assert(jobs == 0, s"index read launched $jobs job(s) (schema = $schema)")
        assert(scans == 1, s"index read planned $scans file scans (schema = $schema)")
        assert(df.as[Long].collect().toSet == want)
      }
    }

  test("a tagged delta is left out of the read that excludes its tag") {
    val root = tmp("graft_scan_tag")
    val vdir = Dedup.writeHashIndex(Seq(1L).toDF("h"), root)
    Dedup.appendHashIndex(spark, root, vdir, Seq(2L).toDF("h"), tag = Some("q_b0"))
    Dedup.appendHashIndex(spark, root, vdir, Seq(3L).toDF("h"), tag = Some("q_b1"))
    def read(t: Option[String]) =
      Dedup.readHashIndex(spark, vdir, excludeTag = t).as[Long].collect().toSet
    assert(read(None) == Set(1L, 2L, 3L))
    assert(read(Some("q_b1")) == Set(1L, 2L))
    assert(Versioned.taggedDelta(spark, vdir, "q_b0").nonEmpty)
    assert(Versioned.taggedDelta(spark, vdir, "q_b9").isEmpty)
  }

  test("partitioned table: base + deltas read with no job and keep the partition column") {
    val root = tmp("graft_scan_part")
    def cells(ids: Seq[Long]) = ids.map(i => (i, (i % 3).toInt)).toDF("id", "cell")
    val vdir = Versioned.commitNew(spark, root) { dir =>
      cells(1L to 6L).write.partitionBy("cell").parquet(s"$dir/cells")
    }
    Seq(7L to 9L, 10L to 10L).foreach { ids =>
      Versioned.commitDelta(spark, root, vdir) { d =>
        cells(ids).write.partitionBy("cell").parquet(s"$d/cells")
      }
    }
    // one scan per dir: partition discovery needs one base path
    val ((df, scans), jobs) = jobsDuring {
      val df = Versioned.readTable(spark, vdir, "cells")
      (df, fileScans(df))
    }
    assert(jobs == 0 && scans == 3, s"jobs = $jobs, scans = $scans")
    assert(df.columns.toSeq == Seq("id", "cell"))
    assert(df.as[(Long, Int)].collect().toSet ==
      (1L to 10L).map(i => (i, (i % 3).toInt)).toSet)
    assert(df.filter($"cell" === 1).as[(Long, Int)].collect().map(_._1).toSet ==
      Set(1L, 4L, 7L, 10L))
  }
}
