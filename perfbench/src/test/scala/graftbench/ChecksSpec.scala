package graftbench

import org.scalatest.funsuite.AnyFunSuite

import scala.util.{Failure, Success}

/** Each output check accepts a correct result and fails the op on a
  * corrupted one.
  */
class ChecksSpec extends AnyFunSuite {

  test("generator: same seed, same corpus; planted dups and stopword-free words") {
    val a = new Gen(7).corpus(2000)
    assert(a == new Gen(7).corpus(2000))
    assert(a != new Gen(8).corpus(2000))
    val f = Funnel.of(a)
    assert(f.exactCopies > 50, "exact dups were planted")
    assert(f.kept < f.filtered && f.filtered < f.scored)
    val stop = Gen.StopwordsByLang.values.flatten.toSet
    assert((0 until 5000).map(Gen.word).forall(w => !stop.contains(w)))
    assert((0 until 5000).map(Gen.word).distinct.size == 5000)
    a.filter(_.lang != "unk").filter(d => Gen.nWords(d.text) >= 10).take(200)
      .foreach(d => assert(Gen.expectedLang(d.text) != "unk" || d.text.split(' ').forall(!stop.contains(_))))
  }

  private val exp = Funnel(scored = 100, filtered = 90, kept = 80, exactCopies = 10)
  private val good = PassResult(
    Map("curate_scored" -> 100L, "curate_filtered" -> 90L, "curate_kept" -> 80L,
      "curate_span_trimmed" -> 70L, "curate_lm_kept" -> 40L),
    langDocs = 40, components = 85, clusteredDocs = 100)

  test("curate: a correct pass passes") {
    assert(CurateChecks.failures(good, exp, None).isEmpty)
    assert(CurateChecks.failures(good, exp, Some(good)).isEmpty)
  }

  test("curate: a surviving planted exact dup fails") {
    val bad = good.copy(observed = good.observed + ("curate_kept" -> 81L))
    assert(CurateChecks.failures(bad, exp, None).exists(_.contains("kept")))
  }

  test("curate: stage counts that change across passes fail") {
    val drift = good.copy(observed = good.observed + ("curate_span_trimmed" -> 69L))
    assert(CurateChecks.failures(drift, exp, Some(good)).exists(_.contains("across passes")))
  }

  test("curate: wrong per-language stats or split exact-dup clusters fail") {
    assert(CurateChecks.failures(good.copy(langDocs = 39), exp, None).nonEmpty)
    assert(CurateChecks.failures(good.copy(components = 91), exp, None).nonEmpty)
    assert(CurateChecks.failures(good.copy(clusteredDocs = 99), exp, None).nonEmpty)
  }

  test("stream: re-delivered or repeated kept docs fail their batch") {
    val firstFile = Map(1L -> 0, 2L -> 0, 3L -> 1, 4L -> 1)
    val textOf = Map(1L -> "a", 2L -> "b", 3L -> "c", 4L -> "a")
    val scored = Map(0L -> 2L, 1L -> 2L)
    val ok = Seq((1L, 0L), (2L, 0L), (3L, 1L))
    assert(StreamChecks.failures(ok, scored, Seq(0L, 1L), firstFile, textOf, 2).isEmpty)
    // doc 1 re-delivered in batch 1 and kept again
    val redelivered = ok :+ ((1L, 1L))
    assert(StreamChecks.failures(redelivered, scored, Seq(0L, 1L), firstFile, textOf, 2).keySet == Set(1L))
    // doc 4 repeats doc 1's text
    val repeated = ok :+ ((4L, 1L))
    assert(StreamChecks.failures(repeated, scored, Seq(0L, 1L), firstFile, textOf, 2).keySet == Set(1L))
    // a batch that did not score its whole file
    assert(StreamChecks.failures(ok, scored + (1L -> 1L), Seq(0L, 1L), firstFile, textOf, 2)
      .keySet == Set(1L))
  }

  test("stream: a staged file that never commits, or a failed drain, fails") {
    assert(StreamChecks.failedOps(expected = 2, committed = 2, failedBatches = 0, drainError = false) == 0)
    // the second file's batch threw: it never committed and the drain failed
    assert(StreamChecks.failedOps(expected = 2, committed = 1, failedBatches = 0, drainError = true) == 1)
    assert(StreamChecks.failedOps(expected = 2, committed = 0, failedBatches = 0, drainError = true) == 2)
    // every file committed, yet the query ended in an error
    assert(StreamChecks.failedOps(expected = 2, committed = 2, failedBatches = 0, drainError = true) == 1)
    assert(StreamChecks.failedOps(expected = 2, committed = 2, failedBatches = 2, drainError = false) == 2)
  }

  test("typed: wrong results fail, interrupted failures do not") {
    assert(TypedChecks.failure(Success(42L), 42L, interrupted = false).isEmpty)
    assert(TypedChecks.failure(Success(41L), 42L, interrupted = false).nonEmpty)
    assert(TypedChecks.failure(Success(41L), 42L, interrupted = true).nonEmpty)
    assert(TypedChecks.failure(Failure(new RuntimeException), 42L, interrupted = true).isEmpty)
    assert(TypedChecks.failure(Failure(new RuntimeException), 42L, interrupted = false).nonEmpty)
  }

  test("typed: reference values follow the chain definition") {
    val n = 1000
    val err = Chain.reference(n, flat = false, salt = 3L, permille = 20).toVector
    assert(err.size == (1 to n).count(x => Chain.keep(Chain.lift(x))))
    assert(err.count(_ == Chain.OnError) > 0)
    val flat = Chain.reference(n, flat = true, salt = 3L, permille = 20).toVector
    assert(flat.size == 2 * err.size)
  }

  test("stats: quantiles, tail percentile rule and interval union") {
    assert(Stats.median(Seq(3.0, 1.0, 2.0)) == 2.0)
    assert(Stats.tail(Seq.fill(50)(1.0)).isEmpty)
    assert(Stats.tail(Seq.fill(100)(1.0)).map(_._1).contains(90.0))
    assert(Stats.tail(Seq.fill(1000)(1.0)).map(_._1).contains(99.0))
    assert(Stats.covered(Seq((0L, 10L), (5L, 15L), (20L, 30L)), 0L, 25L) == 20L)
    assert(math.abs(Stats.slope(Seq(1.0, 3.0, 5.0)) - 2.0) < 1e-9)
  }
}
