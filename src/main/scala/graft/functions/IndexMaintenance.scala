package graft.functions

import org.apache.spark.sql.SparkSession

/** One maintenance entry point for the whole persisted-index fleet.
  *
  * Every persisted family (lexical, hash, graph, cluster, coreness,
  * linkage, simjoin, IVF, PQ, SemDeDup, importance, sketch, health)
  * follows the [[graft.operators.Versioned]] discipline — streaming
  * ingests land one `delta_K/` dir per micro-batch, and each family
  * exposes a compaction that folds base + deltas into a fresh
  * deltaless version under the writer `_LOCK`. What no family owns is
  * CADENCE: a week-old ingest stream leaves thousands of delta dirs,
  * and every reader then pays per-delta `exists()` probes and
  * per-delta parquet scan branches. At a 100 TB deployment with a
  * dozen live indexes that is ten bespoke cron jobs — or this one:
  *
  *   - [[report]] lists each root's committed version, detected
  *     family, delta depth (exactly `Versioned.listDeltas`), and
  *     delta/base bytes.
  *   - [[maintain]] folds every root past a delta-depth or
  *     delta-bytes threshold by dispatching the FAMILY'S OWN
  *     compaction (simjoin re-pins Ω, the hash index carries
  *     replay-live tagged deltas, graph/linkage/simjoin preserve
  *     tag-heal artifacts, lexical re-buckets with its stored
  *     `_ID_BUCKETS` — semantics this driver must not reimplement).
  *     Served results are bit-identical across the fold per each
  *     family's own compaction spec; IndexMaintenanceSpec re-pins it
  *     through THIS dispatch for a representative sample.
  *
  * Family detection reads the committed version dir's layout (each
  * family's component names are disjoint — see [[families]]); an
  * unrecognized layout reports `unknown` and is never compacted
  * (loud skip, not a guess: folding with the wrong semantics corrupts
  * an index).
  */
object IndexMaintenance {

  /** One fleet row: the committed version's vitals. `family` is the
    * detected dispatch key, `deltas` matches
    * [[graft.operators.Versioned.listDeltas]] exactly, bytes are
    * filesystem content sizes (delta dirs vs the rest of the
    * version).
    */
  case class IndexStatus(root: String, family: String, versionDir: String,
                         deltas: Int, deltaBytes: Long, baseBytes: Long)

  /** What [[maintain]] did for one root. `compactedTo` is the new
    * deltaless version dir when the thresholds fired, None when the
    * root was healthy or unrecognized (`family == "unknown"` skips
    * loudly).
    */
  case class MaintResult(status: IndexStatus, compactedTo: Option[String])

  private case class Family(name: String,
                            detect: (SparkSession, String) => Boolean,
                            compact: (SparkSession, String) => Unit)

  private def has(spark: SparkSession, versionDir: String,
                  sub: String): Boolean = {
    val p = new org.apache.hadoop.fs.Path(versionDir, sub)
    p.getFileSystem(spark.sessionState.newHadoopConf()).exists(p)
  }

  /** Detection table, first match wins. Component names are checked
    * most-specific-first so layout supersets (ivfpq carries codebooks
    * AND centroids) resolve to the family whose compaction handles
    * them.
    */
  private def families: Seq[Family] = Seq(
    Family("linkage", (s, v) => has(s, v, "_LINKAGE_META"),
      (s, r) => { LinkageIndex.compactIndex(s, r); () }),
    Family("simjoin", (s, v) => has(s, v, "prefix") && has(s, v, "pairs"),
      (s, r) => { SimJoinIndex.compactIndex(s, r); () }),
    Family("graph", (s, v) => has(s, v, "edges") && has(s, v, "postings"),
      (s, r) => { GraphIndex.compactIndex(s, r); () }),
    Family("coreness", (s, v) => has(s, v, "labels") &&
        s.read.parquet(s"$v/labels").columns.contains("coreness"),
      (s, r) => { CorenessIndex.compactIndex(s, r); () }),
    Family("cluster", (s, v) => has(s, v, "labels"),
      (s, r) => { ClusterIndex.compactIndex(s, r); () }),
    Family("semdedup", (s, v) => has(s, v, "members") && has(s, v, "centroids"),
      (s, r) => Semdedup.compactIndex(s, r)),
    Family("pq", (s, v) => has(s, v, "codebooks"),
      (s, r) => Pq.compactIndex(s, r)),
    Family("ivf", (s, v) => has(s, v, "cells") && has(s, v, "centroids"),
      (s, r) => Ivf.compactIndex(s, r)),
    Family("hash", (s, v) => has(s, v, "grams"),
      (s, r) => { Dedup.compactHashIndex(s, r); () }),
    Family("minhash", (s, v) => has(s, v, "sigs") && has(s, v, "bands"),
      (s, r) => { MinhashIndex.compactIndex(s, r); () }),
    Family("simhash", (s, v) => has(s, v, "sims") && has(s, v, "sbands"),
      (s, r) => { SimhashIndex.compactIndex(s, r); () }),
    Family("importance", (s, v) => has(s, v, "counts") && has(s, v, "defaults"),
      (s, r) => { Selection.compactImportanceModel(s, r); () }),
    Family("sketch", (s, v) => has(s, v, "profile"),
      (s, r) => { SketchProfile.compactIndex(s, r); () }),
    Family("health", (s, v) => has(s, v, "hist"),
      (s, r) => { HealthProfile.compactIndex(s, r); () }),
    // lexical LAST among parquet layouts: its tf/stats components are
    // the least distinctive; compaction re-buckets with the version's
    // own stored bucket count, never the session default
    Family("lexical", (s, v) => has(s, v, "tf") && has(s, v, "stats"),
      (s, r) => {
        val vdir = graft.operators.Versioned.committed(s, r,
          "lexical index (Retrieval.writeLexicalIndex)")
        Retrieval.compactLexicalIndex(s, r,
          Retrieval.idBucketsOf(s, vdir).getOrElse(Retrieval.IdBuckets))
        ()
      })
  )

  private def bytesUnder(fs: org.apache.hadoop.fs.FileSystem,
                         p: org.apache.hadoop.fs.Path): Long =
    if (!fs.exists(p)) 0L else fs.getContentSummary(p).getLength

  /** Fleet report: one [[IndexStatus]] per root with a committed
    * version (roots that resolve to nothing are skipped — nothing to
    * maintain). Read-only; takes no locks.
    */
  def report(spark: SparkSession, roots: Seq[String]): Seq[IndexStatus] =
    roots.flatMap { root =>
      graft.operators.Versioned.resolve(spark, root).map { vdir =>
        val fam = families.find(_.detect(spark, vdir))
          .map(_.name).getOrElse("unknown")
        val conf = spark.sessionState.newHadoopConf()
        val vp = new org.apache.hadoop.fs.Path(vdir)
        val fs = vp.getFileSystem(conf)
        val deltas = graft.operators.Versioned.listDeltas(spark, vdir)
        val dBytes = deltas
          .map(d => bytesUnder(fs, new org.apache.hadoop.fs.Path(d))).sum
        IndexStatus(root, fam, vdir, deltas.size, dBytes,
          bytesUnder(fs, vp) - dBytes)
      }
    }

  /** Fold every root whose delta depth exceeds `maxDeltas` OR whose
    * delta bytes exceed `maxDeltaBytes`, using the detected family's
    * own compaction (which takes the writer `_LOCK` and re-resolves
    * under it — an append racing the fold is never dropped; readers
    * mid-fold keep resolving the old version). Unknown layouts and
    * healthy roots are returned un-acted-on; unknown layouts past
    * threshold additionally warn loudly.
    */
  def maintain(spark: SparkSession, roots: Seq[String],
               maxDeltas: Int = 8,
               maxDeltaBytes: Long = 256L * 1024 * 1024): Seq[MaintResult] =
    report(spark, roots).map { st =>
      val due = st.deltas > maxDeltas || st.deltaBytes > maxDeltaBytes
      if (!due) MaintResult(st, None)
      else if (st.family == "unknown") {
        System.err.println(
          s"[index-maintenance] ${st.root} is past threshold " +
            s"(${st.deltas} deltas, ${st.deltaBytes} delta bytes) but its " +
            "layout matches no known family — NOT compacting (wrong-family " +
            "folding corrupts an index); fold it with its own tool")
        MaintResult(st, None)
      } else {
        families.find(_.name == st.family).get.compact(spark, st.root)
        MaintResult(st,
          graft.operators.Versioned.resolve(spark, st.root))
      }
    }
}
