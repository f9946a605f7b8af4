package graft.operators

import org.apache.spark.sql.SparkSession

/** The tag-guarded Versioned-profile protocol, shared by every
  * profile whose delta merge is NOT idempotent (sketch unions, count
  * additions — merging one batch twice double-counts):
  *
  *  - appends carry a caller batch tag; a tag the profile has already
  *    absorbed is refused. The cheap pre-check outside the lock skips
  *    the write on a plain redelivery, but the AUTHORITATIVE
  *    duplicate test is the guard [[Versioned.commitDeltaIf]]
  *    re-evaluates under the writer `_LOCK` — two concurrent same-tag
  *    appends can both pass a caller-side check;
  *  - tags SURVIVE compaction as a folded `tags/` table (dropping
  *    them would reopen the double-count window for crash replays);
  *  - `committedTags` = the folded table plus live deltas' `_TAG_`
  *    markers.
  *
  * Extracted (round 14) from SketchProfile so HealthProfile and any
  * future partial-merging profile share ONE copy of the replay-safety
  * protocol — a fix to the duplicate-tag race or the tag layout lands
  * everywhere at once. Profile-specific content (what a partial IS,
  * how partials fold) stays with the caller via the write/fold
  * callbacks.
  */
object TaggedProfile {

  /** Append one batch's partial as a tagged delta under the current
    * version of `path`; `write(deltaDir)` lays down the partial.
    * Returns None (committing nothing) when `tag` was already
    * absorbed. `what` names the profile in error messages.
    */
  def appendTagged(spark: SparkSession, path: String, what: String,
                   tag: Option[String])(write: String => Unit): Option[String] = {
    val vdir = Versioned.committed(spark, path, what)
    if (tag.exists(t => committedTags(spark, vdir).contains(t))) None
    else Versioned.commitDeltaIf(spark, path, vdir)(
      tag.forall(t => !committedTags(spark, vdir).contains(t))) { dir =>
      write(dir)
      tag.foreach { t =>
        val tp = new org.apache.hadoop.fs.Path(dir, s"_TAG_$t")
        val fs = tp.getFileSystem(spark.sessionState.newHadoopConf())
        fs.create(tp, true).close()
      }
    }
  }

  /** Every batch tag this version has absorbed. */
  def committedTags(spark: SparkSession, versionDir: String): Set[String] = {
    val conf = spark.sessionState.newHadoopConf()
    val tagsDir = new org.apache.hadoop.fs.Path(s"$versionDir/tags")
    val folded =
      if (tagsDir.getFileSystem(conf).exists(tagsDir))
        spark.read.parquet(s"$versionDir/tags").collect()
          .map(_.getString(0)).toSet
      else Set.empty[String]
    val live = Versioned.listDeltas(spark, versionDir)
      .flatMap { d =>
        val p = new org.apache.hadoop.fs.Path(d)
        p.getFileSystem(conf).listStatus(p).toSeq
          .map(_.getPath.getName)
          .collect { case n if n.startsWith("_TAG_") => n.stripPrefix("_TAG_") }
      }.toSet
    folded ++ live
  }

  /** Fold base + deltas into a fresh deltaless version, carrying the
    * absorbed tags into the folded `tags/` table. `fold(vdir, dir)`
    * writes the folded content from the CURRENT version `vdir` (which
    * is resolved INSIDE the write callback, i.e. under the writer
    * lock — the compactLexicalIndex discipline) into the new `dir`.
    */
  def compactWithTags(spark: SparkSession, path: String, what: String)
                     (fold: (String, String) => Unit): String =
    Versioned.commitNew(spark, path) { dir =>
      val vdir = Versioned.committed(spark, path, what)
      fold(vdir, dir)
      import spark.implicits._
      committedTags(spark, vdir).toSeq.sorted.toDF("tag")
        .coalesce(1).write.parquet(s"$dir/tags")
    }
}
