package graft.functions

import org.apache.spark.sql.SparkSession

/** Shared compaction for the tabular index families (MinhashIndex,
  * SimhashIndex, the hash indexes of [[Dedup]]): a committed version
  * dir holding N named parquet tables, deltas carrying the same
  * tables, streaming tags as `_TAG_<qid>_b<batch>` marker files.
  * Reads go through [[graft.operators.Versioned.readTable]].
  *
  * Extracted (round 18) from MinhashIndex verbatim so the simhash
  * family reuses the compaction/tag-replay logic MinhashIndexSpec
  * already pins, instead of a second copy drifting on its own.
  */
private[functions] object IndexDeltas {

  /** Fold deltas into a fresh base version. Replay safety follows
    * [[Dedup.compactHashIndex]]: for each streaming query id, the
    * HIGHEST-batch tagged delta is the only one that can still
    * replay — it carries over verbatim (tables + tag files); every
    * other delta folds. Untagged (batch-append) deltas always fold.
    * `distinct` de-duplicates each folded table (hash SETS); `what`
    * names the index and its writer for [[graft.operators.Versioned.committed]].
    * Runs under commitNew's lock; returns the new version dir.
    */
  def compactTabular(spark: SparkSession, indexPath: String,
                     subs: Seq[String], what: String,
                     distinct: Boolean = false): String =
    graft.operators.Versioned.commitNew(spark, indexPath) { nv =>
      val vdir = graft.operators.Versioned.committed(spark, indexPath, what)
      val conf = spark.sessionState.newHadoopConf()
      def tagsOf(d: String): Seq[String] = {
        val p = new org.apache.hadoop.fs.Path(d)
        p.getFileSystem(conf).listStatus(p).toSeq
          .map(_.getPath.getName).filter(_.startsWith("_TAG_"))
      }
      def parsed(tags: Seq[String]): Seq[(String, Long)] =
        tags.flatMap { t =>
          val body = t.stripPrefix("_TAG_")
          val i = body.lastIndexOf("_b")
          if (i < 0) None
          else body.drop(i + 2).toLongOption.map(b => (body.take(i), b))
        }
      val deltas = graft.operators.Versioned.listDeltas(spark, vdir)
        .map(d => d -> tagsOf(d))
      val maxBatch = deltas.flatMap(d => parsed(d._2))
        .groupBy(_._1).view.mapValues(_.map(_._2).max).toMap
      val (carry, foldAway) = deltas.partition { case (_, tags) =>
        parsed(tags).exists { case (qid, b) => maxBatch(qid) == b }
      }
      subs.foreach { sub =>
        val folded = graft.operators.Versioned.scan(spark,
          (vdir +: foldAway.map(_._1)).map(d => s"$d/$sub"))
        (if (distinct) folded.distinct() else folded).write.parquet(s"$nv/$sub")
      }
      carry.zipWithIndex.foreach { case ((d, tags), i) =>
        val nd = s"$nv/delta_$i"
        subs.foreach { sub =>
          graft.operators.Versioned.scan(spark, Seq(s"$d/$sub"))
            .write.parquet(s"$nd/$sub")
        }
        val fs = new org.apache.hadoop.fs.Path(nd).getFileSystem(conf)
        tags.foreach { t =>
          fs.create(new org.apache.hadoop.fs.Path(nd, t), true).close()
        }
      }
    }
}
