package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Edit-distance self-join: all pairs of rows whose `nameCol` values
  * are within Levenshtein distance `maxDist` (and that agree on
  * `blockCols`), without ever forming the quadratic in-block cross
  * product.
  *
  * A plain blocked linkage join — equi-join on (blockCols), verify
  * every in-block pair — is quadratic in block size: with a FIXED
  * number of blocks (the reference-shaped nation×segment key, 125
  * blocks), 10× the rows means 100× the Levenshtein calls and pair
  * shuffle (measured at the 10× checkpoint: 48× wall, 51× shuffle).
  * Blocks whose count doesn't grow with the data can't bound
  * anything at 100 TB.
  *
  * This operator instead blocks on the DELETION NEIGHBORHOOD of the
  * name (the FastSS / SymSpell family of public algorithms): each
  * name emits every variant obtainable by deleting ≤ `maxDist`
  * characters, hashed to 64 bits. Exactness for maxDist = τ: an
  * optimal alignment of a and b charges each of the ≤ τ edits one
  * character on each side, so LCS(a,b) ≥ |a| − τ and ≥ |b| − τ —
  * the LCS itself is a ≤ τ-deletion variant of BOTH, so every true
  * pair shares a bucket. Candidate volume is therefore proportional
  * to genuinely-near pairs (plus ed ≤ 2τ collisions the verify step
  * discards), not to block size; the key explosion is the fixed
  * (1 + L + C(L,2))-per-row constant, linear in rows.
  *
  * Pairs are generated id-only inside capped buckets by
  * [[graft.plans.SortedRunPairs]], graft's one id-only pair generator
  * (its SQL metrics count the capped drops); payloads re-join by id,
  * then the exact Levenshtein filter AND an exact blockCols equality
  * check run per candidate — the 64-bit bucket hash can collide in
  * principle, so nothing correctness-bearing rides the hash.
  *
  * Mirrors reference semantics at pippin's linkage surface (see
  * q_linkage); the oracle stays the declarative in-block self-join —
  * this is a plan optimization, not a semantics change.
  */
object EditDistanceJoin {

  /** All ≤2-deletion variants of `s` (distinct): the string itself,
    * every single-character deletion, every two-character deletion.
    * Built with higher-order functions so arbitrary runtime lengths
    * work without unrolling C(L,2) expressions at plan time.
    */
  private[graft] def deletionVariants(s: Column): Column = {
    val L = length(s)
    // greatest(·, 1) floors the sequence bounds: Spark's sequence(1, 0)
    // counts DOWN, which would fabricate an i=0 deletion position on
    // empty strings
    val d1 = transform(sequence(lit(1), greatest(L, lit(1))),
      i => concat(s.substr(lit(1), i - 1), s.substr(i + 1, L)))
    val d2 = flatten(transform(sequence(lit(1), greatest(L - 1, lit(1))),
      i => transform(sequence(i + 1, greatest(L, i + 1)),
        j => concat(s.substr(lit(1), i - 1), s.substr(i + 1, j - i - 1),
          s.substr(j + 1, L)))))
    array_distinct(concat(array(s), d1, d2))
  }

  /** The (id, band, bkey) deletion-neighborhood key table — the
    * blocking structure [[selfJoin]] derives per run and
    * [[graft.functions.LinkageIndex]] persists once per corpus
    * version. The block columns are part of the bucket key: candidates
    * must be generated in-block (a variant shared across blocks is not
    * a candidate), and the exact blockEq re-check in
    * [[verifyCandidates]] keeps hash collisions from smuggling a
    * cross-block pair in. Always enumerates the τ=2 neighborhood —
    * a superset of every legal maxDist's candidates, so ONE persisted
    * key table serves any verify threshold ≤ 2.
    */
  private[graft] def deletionKeys(df: DataFrame, idCol: String,
                                  nameCol: String,
                                  blockCols: Seq[String]): DataFrame =
    // round-18: the variant enumeration + hashing runs in the codegen
    // kernel [[graft.plans.TextHash.deletionVariantHashes]] — the
    // nested interpreted HOF (substr/concat per variant) was 26 CPU-s
    // at sf0.1. xxhash64(blockCols..., v) ≡ hash(v, xxhash64(blockCols))
    // by the hash chain rule; TextHashSpec pins key-set equality
    // against the HOF form (kept below for the spec).
    graft.Tables.spread(df)
      .select(col(idCol).as("id"), lit(0).as("band"),
        explode(graft.plans.TextHashCols.deletionVariantHashes(
          col(nameCol),
          // empty blockCols would make xxhash64() a zero-arg call
          // (analysis error); seed 42 is xxhash64's implicit seed, so
          // chaining from it reproduces the unblocked xxhash64(v)
          // exactly (ADVICE r18 — latent, no current caller passes
          // empty blocks)
          if (blockCols.isEmpty) lit(42L)
          else xxhash64(blockCols.map(col): _*))).as("bkey"))

  /** The exact half: candidate (id_a, id_b) pairs re-join payloads by
    * id, then the blockCols equality AND the Levenshtein threshold run
    * per candidate — nothing correctness-bearing rides the 64-bit
    * bucket hash. Returns (id_a, id_b, dist).
    *
    * Both payload joins are merge-hinted: the docs side is
    * CORPUS-scale by construction, but it reaches the planner as a
    * column-pruned parquet scan whose static size estimate shrinks
    * with the corpus's (dictionary-friendly) on-disk footprint — at
    * the sf10 spot-check the pruned customer scan estimated under the
    * 10 MB broadcast threshold and the planner collected a 1.5 M-row
    * payload (~1 GiB of task results) to the driver, killing the job
    * on maxResultSize. A corpus side must never ride a stats
    * estimate into a broadcast, however small the files look.
    */
  private[graft] def verifyCandidates(pairs: DataFrame, docs: DataFrame,
                                      idCol: String, nameCol: String,
                                      blockCols: Seq[String],
                                      maxDist: Int,
                                      wideSecondJoin: Boolean = true): DataFrame = {
    val payload = Seq(nameCol) ++ blockCols
    val a = docs.select(col(idCol).as("id_a") +: payload.map(c => col(c).as(s"_a_$c")): _*)
    val b = docs.select(col(idCol).as("id_b") +: payload.map(c => col(c).as(s"_b_$c")): _*)
    val blockEq = blockCols.map(c => col(s"_a_$c") === col(s"_b_$c"))
      .foldLeft(lit(true))(_ && _)
    // round-18: explicit repartition before the verify joins — the
    // candidate rows are BYTES-small, so AQE coalesces the join stages
    // to 1-2 tasks, but Levenshtein cost is per ROW, not per byte
    // (StageProfile: 2×~570 ms two-task verify stages at sf0.1). A
    // user-specified keyed repartition is exempt from AQE coalescing
    // and scales with the cluster (defaultParallelism), not a constant.
    val par = pairs.sparkSession.sparkContext.defaultParallelism
    val afterA = pairs.repartition(par, col("id_a"))
      .join(a.hint("merge"), "id_a")
    // round-19 wave 3: the SECOND verify join re-exchanges on id_b, and
    // that exchange is bytes-small too — AQE coalesced it to 3 tasks
    // (StageProfile: two ~350 ms three-task stages carrying the
    // Levenshtein filter; q_linkage 2.44 → 1.86 s with the pin). Same
    // per-ROW-cost rationale as the id_a pin above — but caller-gated:
    // the incremental index probe verifies a BATCH-sized candidate set
    // where a forced 32-way stage only adds scheduling (the q_gini
    // lesson), so it keeps the AQE-sized exchange.
    val beforeB = if (wideSecondJoin) afterA.repartition(par, col("id_b"))
      else afterA
    // round-19 (second session): the bounded 3-arg levenshtein —
    // banded DP that abandons a pair the moment its distance provably
    // exceeds maxDist, O((2·maxDist+1)·min(|a|,|b|)) instead of
    // O(|a|·|b|) per pair. Result-identical: within the threshold it
    // returns the exact distance (same value the unbounded form
    // produced for every surviving row); above it it returns -1, and
    // -1 is the ONLY possible value outside [0, maxDist], so the
    // single `dist >= 0` conjunct is the exact old `dist <= maxDist`
    // filter (a bare <= maxDist would KEEP the -1 sentinel; `between`
    // would push TWO levenshtein calls into the join condition).
    beforeB
      .join(b.hint("merge"), "id_b")
      .filter(blockEq)
      .withColumn("dist",
        levenshtein(col(s"_a_$nameCol"), col(s"_b_$nameCol"), maxDist))
      .filter(col("dist") >= 0)
      .select(col("id_a"), col("id_b"), col("dist"))
  }

  /** Self-join `df` on Levenshtein(nameCol) ≤ maxDist within equal
    * blockCols. Returns (id_a, id_b, dist) with id_a < id_b.
    *
    * maxDist must be ≤ 2 (the deletion neighborhood enumerated here);
    * smaller values just tighten the verify filter — the candidate
    * set for τ=2 is a superset of the τ<2 one. `idCol` must be long.
    */
  def selfJoin(df: DataFrame, idCol: String, nameCol: String,
               blockCols: Seq[String], maxDist: Int = 2,
               maxBucket: Int = 10000): DataFrame = {
    graft.functions.Dedup.requireLongIds("EditDistanceJoin.selfJoin", df, idCol)
    require(maxDist >= 0 && maxDist <= 2, "deletion neighborhood enumerates tau <= 2")
    val keyed = deletionKeys(df, idCol, nameCol, blockCols)
    verifyCandidates(candidatePairs(keyed, maxBucket), df, idCol, nameCol,
      blockCols, maxDist)
  }

  /** Candidate pairs from a deletion-neighborhood key table (long
    * ids), through the [[graft.plans.SortedRunPairs]] operator: variant
    * keys are ~97 % singletons (25.8 M keys / 150 k names at sf1), so
    * a collect_list bucket aggregate paid a partial AND a final
    * ObjectHashAggregate map over every row before producing a pair —
    * measured +3.7 s at sf1/32 cpus vs 0.6 s for the keys themselves
    * (EditJoinProbe); the operator's one sort and run walk replace
    * both maps, the bucket spread and the pair explode. The explicit
    * keyed repartition pins the stage wide (user repartitions are
    * exempt from AQE coalescing, and the key rows are bytes-small)
    * and already satisfies the operator's required distribution. The
    * capped drops are the operator's SQL metrics. Shared by
    * [[selfJoin]] and [[graft.functions.LinkageIndex]]'s build and
    * append.
    */
  private[graft] def candidatePairs(keyed: DataFrame, maxBucket: Int): DataFrame = {
    val par = keyed.sparkSession.sparkContext.defaultParallelism
    // band is CONSTANT on every deletion-neighborhood key table
    // (deletionKeys emits lit(0); the persisted keys/ parquet is
    // written by deletionKeys) — so (band, bkey) grouping degenerates
    // to bkey grouping and the exchange need not carry the column at
    // all: shuffle (id, bkey) only and re-attach a literal band above
    // (HashPartitioning(bkey) satisfies the operator's
    // ClusteredDistribution(band, bkey); the leading constant sort
    // key is free). Pair sets are band-value-independent for any
    // constant, so lit(0) is exact. Any other band fails the job
    // here instead of merging bands silently; on deletionKeys' own
    // literal band the check folds away at plan time.
    val band0 = keyed.filter(when(col("band") === 0, lit(true)).otherwise(
      raise_error(lit("EditDistanceJoin.candidatePairs: band must be 0 " +
        "(a deletionKeys key table)"))))
    graft.plans.SortedRunPairs.pairs(
        band0.select(col("id"), col("bkey"))
          .repartition(par, col("bkey"))
          .select(col("id"), lit(0).as("band"), col("bkey")),
        maxBucket)
      .dropDuplicates("id_a", "id_b")
  }
}
