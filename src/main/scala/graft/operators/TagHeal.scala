package graft.operators

import org.apache.spark.sql.SparkSession

/** The shared batch-tag crash-heal convention for persisted indexes
  * whose streaming ingests emit a DERIVED artifact per micro-batch
  * (graph edges, linkage pairs, simjoin pairs): the append commits a
  * delta marked `_TAG_<tag>` (tag = query-id + batch-id), and if the
  * stream dies between that commit and its sink write, the replayed
  * batch — whose append now refuses, first-delivery-wins — re-locates
  * ITS OWN delta by tag and re-emits the sink partition idempotently.
  *
  * The subtlety is compaction: folding a tagged delta into the base
  * destroys the per-batch attribution the heal needs, so [[preserve]]
  * carries each folded tagged delta's heal artifacts forward under
  * `tagdeltas/NNNNNN_<tag>/` in the new version (batch-proportional
  * bytes, copied not recomputed), trimmed to the newest [[TagRetain]]
  * with a loud warning and a durable `tagdeltas/_TRIMMED` ledger —
  * [[deltaByTag]] on a trimmed tag throws instead of returning None,
  * which the heal path would misread as "plain redelivery, nothing to
  * emit". Extracted from [[graft.functions.GraphIndex]] (round 14's
  * convention) when the linkage/simjoin indexes gained streaming
  * faces; all three families delegate here.
  */
object TagHeal {

  /** How many tagged deltas' heal artifacts a compaction carries
    * forward. The crash window a tag heals — between a delta commit
    * and the stream's sink write — holds at most ONE batch per stream
    * (foreachBatch is sequential), so this bounds concurrent streams
    * on one index, not corpus growth. NOT a silent cap: see
    * [[preserve]] / [[deltaByTag]].
    */
  val TagRetain = 16

  /** Mark a freshly-committed delta dir with the writer's batch
    * identity (an empty `_TAG_<tag>` file).
    */
  def mark(spark: SparkSession, deltaDir: String, tag: String): Unit = {
    val tp = new org.apache.hadoop.fs.Path(deltaDir, s"_TAG_$tag")
    val fs = tp.getFileSystem(spark.sessionState.newHadoopConf())
    fs.create(tp, true).close()
  }

  /** The committed delta carrying `_TAG_<tag>`, if any — live deltas
    * first, then the version's `tagdeltas/` store. A tag the ledger
    * says was trimmed fails LOUD: the committed delta's data IS in
    * the index, but the heal can no longer re-attribute it, and
    * returning None would silently lose the batch's sink partition.
    * `what` labels the error (e.g. "graph index").
    */
  def deltaByTag(spark: SparkSession, versionDir: String, tag: String,
                 what: String): Option[String] = {
    val conf = spark.sessionState.newHadoopConf()
    Versioned.taggedDelta(spark, versionDir, tag).orElse {
      val td = new org.apache.hadoop.fs.Path(versionDir, "tagdeltas")
      val fs = td.getFileSystem(conf)
      val hit =
        if (!fs.exists(td)) None
        else fs.listStatus(td).toSeq
          .filter(s => s.isDirectory && s.getPath.getName.drop(7) == tag)
          .map(_.getPath.toString).headOption
      if (hit.isEmpty && trimmedTags(fs, versionDir).contains(tag))
        throw new IllegalStateException(
          s"$what heal artifacts for batch tag '$tag' were trimmed " +
            s"by compaction (TagRetain=$TagRetain newest kept; see " +
            s"$versionDir/tagdeltas/_TRIMMED): the batch's append IS " +
            "committed, but it can no longer be healed BY TAG. Check the " +
            "sink first — if the batch's output partition is already " +
            "present (crash landed after the sink write), nothing was " +
            "lost and the stream can resume past this batch; if it is " +
            "missing, rebuild the derived output for this batch from the " +
            "index. Raise TagRetain above the number of concurrent " +
            "streams to widen the heal window")
      hit
    }
  }

  /** Tags whose preserved heal dirs a compaction has EVER dropped —
    * the `tagdeltas/_TRIMMED` ledger (one tag per line), carried
    * forward across compactions. Bytes ∝ trimmed batches (tag strings
    * only), the same order as the delta log itself.
    */
  private[graft] def trimmedTags(fs: org.apache.hadoop.fs.FileSystem,
                                 versionDir: String): Set[String] = {
    val f = new org.apache.hadoop.fs.Path(versionDir, "tagdeltas/_TRIMMED")
    if (!fs.exists(f)) Set.empty
    else {
      val in = fs.open(f)
      try scala.io.Source.fromInputStream(in, "UTF-8")
        .getLines().filter(_.nonEmpty).toSet
      finally in.close()
    }
  }

  /** The version's preserved tagged-delta heal dirs, oldest first:
    * (seq-ordered name, path). Names are `NNNNNN_<tag>`.
    */
  private def tagDeltaDirs(fs: org.apache.hadoop.fs.FileSystem,
                           versionDir: String): Seq[(String, org.apache.hadoop.fs.Path)] = {
    val td = new org.apache.hadoop.fs.Path(versionDir, "tagdeltas")
    if (!fs.exists(td)) Nil
    else fs.listStatus(td).toSeq.filter(_.isDirectory)
      .map(s => (s.getPath.getName, s.getPath)).sortBy(_._1)
  }

  /** Compaction carry-forward: preserve the heal artifacts (`parts`
    * subdirs) of the old version's tagged deltas — plus its prior
    * preserved dirs — under `newDir/tagdeltas/`, newest [[TagRetain]]
    * kept. When the trim actually drops an entry it warns loudly AND
    * records the tag durably in `_TRIMMED` — a crashed 17th stream
    * healing by a dropped tag must hit a hard error in [[deltaByTag]],
    * not a silent nothing-to-emit. Call inside the compaction's
    * commitNew callback, after folding the components.
    */
  def preserve(spark: SparkSession, oldVersionDir: String, newDir: String,
               parts: Seq[String], what: String): Unit = {
    val conf = spark.sessionState.newHadoopConf()
    val fs = new org.apache.hadoop.fs.Path(newDir).getFileSystem(conf)
    val tagOf: String => Option[String] = d =>
      fs.listStatus(new org.apache.hadoop.fs.Path(d)).toSeq
        .map(_.getPath.getName).find(_.startsWith("_TAG_"))
        .map(_.stripPrefix("_TAG_"))
    // oldest-first: prior preserved dirs (already seq-ordered), then
    // this version's live tagged deltas in commit order
    val carried: Seq[(String, org.apache.hadoop.fs.Path)] =
      tagDeltaDirs(fs, oldVersionDir).map { case (n, src) => (n.drop(7), src) } ++
        Versioned.listDeltas(spark, oldVersionDir).flatMap { d =>
          tagOf(d).map(t => (t, new org.apache.hadoop.fs.Path(d)))
        }
    val dropped = carried.dropRight(TagRetain)
    if (dropped.nonEmpty)
      System.err.println(
        s"[$what] compaction trimmed ${dropped.size} tagged " +
          s"heal dir(s) beyond TagRetain=$TagRetain: " +
          dropped.map(_._1).mkString(", ") +
          " — a stream healing by one of these tags will now FAIL " +
          "instead of silently skipping its sink partition")
    val trimmed = trimmedTags(fs, oldVersionDir) ++ dropped.map(_._1)
    if (trimmed.nonEmpty) {
      fs.mkdirs(new org.apache.hadoop.fs.Path(s"$newDir/tagdeltas"))
      val out = fs.create(
        new org.apache.hadoop.fs.Path(s"$newDir/tagdeltas/_TRIMMED"), true)
      try out.write(trimmed.toSeq.sorted.mkString("\n").getBytes("UTF-8"))
      finally out.close()
    }
    carried.takeRight(TagRetain).zipWithIndex.foreach {
      case ((tag, src), i) =>
        val dst = new org.apache.hadoop.fs.Path(
          s"$newDir/tagdeltas/${"%06d".format(i + 1)}_$tag")
        fs.mkdirs(dst)
        parts.foreach { c =>
          val s = new org.apache.hadoop.fs.Path(src, c)
          if (fs.exists(s))
            org.apache.hadoop.fs.FileUtil.copy(
              fs, s, fs, new org.apache.hadoop.fs.Path(dst, c), false, conf)
        }
    }
  }
}
