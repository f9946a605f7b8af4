package graft.plans

import org.apache.spark.SparkException
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.{Alias, Crc32, EqualNullSafe, EqualTo, Expression, Md5, Murmur3Hash, Sha1, Sha2, XxHash64}
import org.apache.spark.sql.catalyst.plans.logical.{Join, LogicalPlan, Window}
import org.apache.spark.sql.catalyst.rules.Rule

/** Plan lint for the three quietest scale-killers Spark allows:
  *
  *  1. a window with an EMPTY partition spec — every row moves to one
  *     task (Spark itself only logs a WARN from the physical operator,
  *     after you're already running);
  *  2. a join with NO cross-side equality predicate — plans as a
  *     nested-loop/cartesian join, O(|L|·|R|) at scale. Joins where
  *     either side is provably ≤1 row (`maxRows`, e.g. a global
  *     aggregate broadcast as a scalar) are exempt: those are the
  *     legitimate broadcast-scalar pattern;
  *  3. a window PARTITIONED BY A HASH-DERIVED KEY (xxhash64 / md5 /
  *     murmur3 / sha / crc32 of content) — an unbounded-cardinality
  *     key whose skew tracks the data: WindowExec buffers each key
  *     group in ONE task and AQE does not split windows, so one
  *     boilerplate span/shingle/segment held by millions of rows is a
  *     guaranteed single-task spilling straggler. Use the
  *     [[graft.functions.Dedup.joinKeyStats]] shape instead
  *     (map-side-combinable groupBy + merge join back): a hot key
  *     still runs in one task — AQE does not skew-split that join
  *     either, its stats side is not a bare shuffle stage — but the
  *     merge join streams the key's rows instead of buffering the
  *     group. The lint
  *     traces partition keys through Alias definitions in the
  *     window's subtree, so renaming the hash column doesn't hide it.
  *
  * All are flagged at plan time, before execution.
  *
  * Modes via `spark.graft.scaleGuard`:
  *  - `warn` (default): log each offence
  *  - `fail`: refuse the plan — the right setting for production
  *    pipelines where a single-partition sort or an accidental
  *    cartesian is always a bug
  *  - `off`: disabled
  *
  * Wired by [[GraftExtensions]] as a pre-CBO rule (runs once per
  * query), or imperatively on an existing session via
  * [[ScaleGuard.register]] (`experimental.extraOptimizations`).
  */
case class ScaleGuardRule(spark: SparkSession) extends Rule[LogicalPlan] {

  private def hasCrossSideEquality(j: Join): Boolean = {
    def crossSide(l: Expression, r: Expression): Boolean =
      (l.references.subsetOf(j.left.outputSet) &&
        r.references.subsetOf(j.right.outputSet) && l.references.nonEmpty) ||
      (l.references.subsetOf(j.right.outputSet) &&
        r.references.subsetOf(j.left.outputSet) && l.references.nonEmpty)
    // top-level AND-conjuncts only, like the planner's own equi-key
    // extraction: an EqualTo buried under Not/Or (e.g. `a =!= b`)
    // provides no hash key and must not silence the lint
    def conjuncts(e: Expression): Seq[Expression] = e match {
      case org.apache.spark.sql.catalyst.expressions.And(l, r) =>
        conjuncts(l) ++ conjuncts(r)
      case x => Seq(x)
    }
    j.condition.exists(c => conjuncts(c).exists {
      case EqualTo(l, r) => crossSide(l, r)
      case EqualNullSafe(l, r) => crossSide(l, r)
      case _ => false
    })
  }

  private def scalarSide(j: Join): Boolean =
    j.left.maxRows.exists(_ <= 1L) || j.right.maxRows.exists(_ <= 1L)

  private def isHashExpr(e: Expression): Boolean = e.exists {
    case _: XxHash64 | _: Murmur3Hash | _: Md5 | _: Sha1 | _: Sha2 |
         _: Crc32 => true
    case _ => false
  }

  /** Partition keys of `w` that trace (through Alias definitions in
    * the window's subtree) to a hash expression. Depth-capped: alias
    * chains are short in practice and a cycle is impossible in a
    * resolved plan, but cheap insurance.
    */
  private def hashPartitionKeys(w: Window): Seq[String] = {
    val defs = w.child.collect { case p =>
      p.expressions.flatMap(_.collect { case a: Alias => a.exprId -> a.child })
    }.flatten.toMap
    def derives(e: Expression, depth: Int): Boolean =
      depth <= 8 && (isHashExpr(e) || e.references.exists(a =>
        defs.get(a.exprId).exists(c => derives(c, depth + 1))))
    w.partitionSpec.filter(derives(_, 0)).map(_.sql)
  }

  /** An explicit broadcast hint on either side is a conscious opt-in
    * to a nested-loop join with a bounded build side (brute-force
    * scoring, tiny dim tables) — not an accident to flag.
    */
  private def broadcastHinted(j: Join): Boolean =
    (j.hint.leftHint ++ j.hint.rightHint)
      .exists(_.strategy.exists(_.toString.toLowerCase.contains("broadcast")))

  override def apply(plan: LogicalPlan): LogicalPlan = {
    spark.conf.get("spark.graft.scaleGuard", "warn") match {
      case "off" => ()
      case mode =>
        def flag(msg: String): Unit =
          if (mode == "fail") throw new SparkException(s"[graft.ScaleGuard] $msg")
          else logWarning(s"[graft.ScaleGuard] $msg")
        plan.foreach {
          case w: Window if w.partitionSpec.isEmpty =>
            val what = w.windowExpressions.map(_.name).mkString(", ")
            flag(s"empty-partition Window over [$what]: every row " +
              "moves to ONE task at scale; partition the window or use a " +
              "range-partitioned formulation (e.g. graft GlobalNtile)")
          case w: Window if hashPartitionKeys(w).nonEmpty =>
            flag(s"Window partitioned by hash-derived key(s) " +
              s"[${hashPartitionKeys(w).mkString(", ")}]: unbounded-" +
              "cardinality, data-skewed — one boilerplate value is one " +
              "giant single-task window group, and AQE cannot skew-split " +
              "windows; compute per-key stats with Dedup.joinKeyStats " +
              "(map-side-combinable groupBy + merge join back) instead")
          case j: Join if !hasCrossSideEquality(j) && !scalarSide(j) &&
              !broadcastHinted(j) =>
            flag(s"${j.joinType} join with no cross-side equality " +
              "predicate plans as a nested-loop/cartesian join — " +
              "O(|L|*|R|) at scale; add an equi-key (block key, time " +
              "bucket) and keep ranges/inequalities as residual filters")
          case _ => ()
        }
    }
    plan
  }
}

object ScaleGuard {
  /** Attach to an existing session (idempotent). */
  def register(spark: SparkSession): Unit = {
    val cur = spark.experimental.extraOptimizations
    if (!cur.exists(_.isInstanceOf[ScaleGuardRule]))
      spark.experimental.extraOptimizations = cur :+ ScaleGuardRule(spark)
  }

  /** Detach from a session registered via [[register]]. */
  def unregister(spark: SparkSession): Unit =
    spark.experimental.extraOptimizations =
      spark.experimental.extraOptimizations.filterNot(_.isInstanceOf[ScaleGuardRule])

  /** Physical-plan audit: the broadcast MISS the logical lint can't
    * see — a sort-merge or shuffled-hash join whose one LEGALLY
    * BROADCASTABLE side's static size estimate is under
    * `broadcastableBytes`. Both sides of such a join shuffle even
    * though one would fit a broadcast; the usual causes are a
    * disabled threshold, missing stats upstream of a non-pruning
    * operator, or a join key wrapped in an expression that blocked
    * the planner's size propagation. AQE often rescues these at
    * runtime from observed sizes — this audit catches the ones
    * static planning already knew about, before execution.
    *
    * Legality mirrors the planner's build-side rules: outer joins can
    * only broadcast the side OPPOSITE the preserved one (full outer
    * neither), semi/anti only the right — a small preserved side is
    * not a miss, it is the only legal plan.
    *
    * `broadcastableBytes` defaults to the session threshold, falling
    * back to Spark's stock 10 MB when the session disables
    * broadcasts (threshold ≤ 0 — the audit must still SEE the misses
    * that configuration causes; pass an explicit value to change the
    * reference point).
    *
    * Returns one finding per offending join (empty = clean). Audits
    * the pre-AQE physical plan, so it is side-effect free.
    */
  def auditPhysical(df: org.apache.spark.sql.DataFrame,
                    broadcastableBytes: Long = -1L): Seq[String] = {
    val sessionThresh = org.apache.spark.sql.graftbridge.Bridge
      .autoBroadcastThreshold(df.sparkSession)
    val thresh: Long =
      if (broadcastableBytes >= 0) broadcastableBytes
      else if (sessionThresh > 0) sessionThresh
      else 10L * 1024 * 1024
    if (thresh <= 0) return Nil
    def sizeOf(p: org.apache.spark.sql.execution.SparkPlan): Option[BigInt] =
      p.logicalLink.map(_.stats.sizeInBytes)
    import org.apache.spark.sql.catalyst.plans._
    def legalSides(jt: JoinType): (Boolean, Boolean) = jt match {
      case Inner | Cross => (true, true)
      case LeftOuter | LeftSemi | LeftAnti => (false, true) // build right only
      case RightOuter => (true, false)
      case _: ExistenceJoin => (false, true)
      case FullOuter => (false, false)
      case _ => (false, false)
    }
    df.queryExecution.sparkPlan.collect {
      case j: org.apache.spark.sql.execution.joins.SortMergeJoinExec =>
        ("SortMergeJoin", j.joinType, sizeOf(j.left), sizeOf(j.right))
      case j: org.apache.spark.sql.execution.joins.ShuffledHashJoinExec =>
        ("ShuffledHashJoin", j.joinType, sizeOf(j.left), sizeOf(j.right))
    }.flatMap { case (kind, jt, l, r) =>
      val (leftOk, rightOk) = legalSides(jt)
      val small = Seq(("left", leftOk, l), ("right", rightOk, r)).collect {
        case (side, true, Some(sz)) if sz <= thresh => s"$side≈${sz}B"
      }
      if (small.nonEmpty)
        Some(s"$kind ($jt) shuffles both sides but ${small.mkString(",")} is " +
          s"under the ${thresh}B broadcast threshold — a broadcast was missed " +
          "(stats gap, disabled threshold, or non-propagating operator)")
      else None
    }
  }

  /** Audit: a `Generate` (explode / posexplode / sequence-explode)
    * inside a broadcast build side.
    *
    * Catalyst's size-only stats estimate a Generate at roughly its
    * CHILD's size — a grid explode above a tiny aggregate looks
    * broadcastable while physically materializing millions of rows in
    * ONE build task and shipping them to every executor (and, at real
    * scale, OOMing the driver during the broadcast collect). Found
    * live: q_resample's old grid⋈hourly join broadcast a 15 k-row agg
    * that exploded to ~10 M rows — a single 6.6 s build task at sf1.
    *
    * An explicitly hinted broadcast of a Generate is exempt when
    * `exemptHinted` (the caller opted in knowing the multiplier, e.g.
    * a bounded per-row top-k explode of a small query set); unhinted
    * planner-chosen ones are always findings. Audits the pre-AQE
    * physical plan, side-effect free.
    */
  def auditBroadcastGenerate(df: org.apache.spark.sql.DataFrame,
                             exemptHinted: Boolean = true): Seq[String] = {
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.catalyst.optimizer.{BuildLeft, BuildRight}
    // the pre-AQE sparkPlan has no exchanges yet (EnsureRequirements
    // inserts them later), so inspect the BUILD child of each
    // broadcast join directly
    // by physical planning ResolvedHint nodes are eliminated; the
    // opt-in survives as a JoinHint on the logical Join itself
    def hinted(j: SparkPlan, buildLeft: Boolean): Boolean =
      j.logicalLink.exists {
        case lj: Join =>
          (if (buildLeft) lj.hint.leftHint else lj.hint.rightHint)
            .exists(_.strategy.exists(_.toString.toLowerCase.contains("broadcast")))
        case _ => false
      }
    // explode over a FOLDABLE array (e.g. a salt replication via
    // sequence(lit(0), lit(k-1))) multiplies by a compile-time
    // constant — the size estimate is off by exactly that factor,
    // which is bounded and known, not arbitrarily wrong
    def constantMultiplier(g: org.apache.spark.sql.execution.GenerateExec): Option[Long] =
      g.generator match {
        case e: org.apache.spark.sql.catalyst.expressions.ExplodeBase
            if e.child.foldable =>
          Option(e.child.eval(null)).collect {
            case a: org.apache.spark.sql.catalyst.util.ArrayData =>
              a.numElements().toLong
          }
        case _ => None
      }
    def check(kind: String, build: SparkPlan): Option[String] = {
      val gens = build.collect {
        case g: org.apache.spark.sql.execution.GenerateExec
            if !constantMultiplier(g).exists(_ <= 1024) => g
      }
      if (gens.nonEmpty)
        Some(s"$kind build side contains ${gens.size} Generate node(s) — " +
          "size-only stats do not model the explode multiplier, so the " +
          "broadcast build can be arbitrarily larger than estimated; " +
          "restructure so the explode runs after the exchange, or hint " +
          "the broadcast explicitly if the multiplier is provably bounded")
      else None
    }
    df.queryExecution.sparkPlan.collect {
      case j: org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
          if !(exemptHinted && hinted(j, j.buildSide == BuildLeft)) =>
        check("BroadcastHashJoin",
          if (j.buildSide == BuildLeft) j.left else j.right)
      case j: org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec
          if !(exemptHinted && hinted(j, j.buildSide == BuildLeft)) =>
        check("BroadcastNestedLoopJoin",
          if (j.buildSide == BuildLeft) j.left else j.right)
    }.flatten
  }

  /** Audit: an EXPLICITLY broadcast-hinted join side whose rows come
    * from an aggregate GROUPED ON AN UNBOUNDED CONTENT-HASH KEY — the
    * "vocabulary table rides a broadcast" trap. A (token-hash → stat)
    * table grows with the corpus's distinct-token count (Heaps' law:
    * 10⁸-10⁹ at crawl scale), so a forced broadcast of it works in
    * every test and dies at exactly the scale it was built for. The
    * bounded shape — `pmod(hash(tok), nBuckets)` as the grouping key,
    * the hashing trick — caps the table at nBuckets rows forever and
    * passes this audit.
    *
    * Grouping keys are traced through Alias definitions in the
    * aggregate's subtree (renaming the hash column doesn't hide it);
    * a key whose derivation includes a modulo (Pmod / %) above or
    * below the hash is considered bounded. Opt-in per plan (unlike
    * the lint rules): bounded-by-construction builds — e.g. a
    * token-grouped aggregate of a structurally small QUERY set — are
    * legitimate and only the call site knows. Returns one finding per
    * offending key (empty = clean); audits the optimized logical
    * plan, side-effect free.
    */
  def auditBroadcastVocab(df: org.apache.spark.sql.DataFrame): Seq[String] = {
    import org.apache.spark.sql.catalyst.expressions.{Attribute, Pmod, Remainder}
    import org.apache.spark.sql.catalyst.plans.logical.Aggregate
    def isHash(e: Expression): Boolean = e match {
      case _: XxHash64 | _: Murmur3Hash | _: Md5 | _: Sha1 | _: Sha2 |
           _: Crc32 => true
      case _ => false
    }
    def offenders(side: LogicalPlan): Seq[String] =
      side.collect { case a: Aggregate =>
        val defs = a.collect { case p =>
          p.expressions.flatMap(_.collect { case al: Alias => al.exprId -> al.child })
        }.flatten.toMap
        def subst(e: Expression, depth: Int): Expression =
          if (depth > 8) e
          else e.transformUp {
            case attr: Attribute if defs.contains(attr.exprId) =>
              subst(defs(attr.exprId), depth + 1)
          }
        a.groupingExpressions.map(subst(_, 0))
          .filter(g => g.exists(isHash) && !g.exists {
            case _: Pmod | _: Remainder => true
            case _ => false
          })
          .map(_.sql)
      }.flatten
    df.queryExecution.optimizedPlan.collect { case j: Join =>
      def chk(name: String,
              h: Option[org.apache.spark.sql.catalyst.plans.logical.HintInfo],
              side: LogicalPlan): Seq[String] =
        if (h.exists(_.strategy.exists(_.toString.toLowerCase.contains("broadcast"))))
          offenders(side).map(k =>
            s"$name side of ${j.joinType} join is broadcast-hinted but " +
              s"aggregates on unbounded hash-derived key [$k]: " +
              "vocabulary-scale cardinality rides the broadcast — bound " +
              "the key with pmod(hash, nBuckets) (the hashing trick, e.g. " +
              "Selection.tokenBucket) or drop the hint for a merge join")
        else Nil
      chk("left", j.hint.leftHint, j.left) ++
        chk("right", j.hint.rightHint, j.right)
    }.flatten
  }
}
