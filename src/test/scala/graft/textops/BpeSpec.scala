package graft.textops

import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Pins [[TextQueries.bpeMergeExpr]]'s greedy-fold merge to true
  * left-to-right BPE semantics — the cases where the naive
  * string-replace formulation diverges (runs of the merged symbol,
  * self-overlapping pairs) are exactly the ones pinned here — plus a
  * hand-computed training run on a mini corpus. */
class BpeSpec extends AnyFunSuite with BeforeAndAfterAll {

  private lazy val spark = graft.LocalTuning.session(2)

  override def afterAll(): Unit = spark.stop()

  private def lit(s: String): String = "'" + s.replace("'", "''") + "'"

  /** Apply one (a, b) merge to a space-joined token string. */
  private def merge(s: String, a: String, b: String): String = {
    import spark.implicits._
    Seq(s).toDF("s")
      .selectExpr("split(s, ' ') AS t")
      .selectExpr(s"${TextQueries.bpeMergeExpr(lit(a), lit(b))} AS s")
      .collect()(0).getString(0)
  }

  test("merge is left-to-right non-overlapping on runs") {
    // [a,a,a] with pair (a,a): the first two merge, the third stays —
    // the merged token `aa` no longer equals the left side `a`
    assert(merge("a a a", "a", "a") === "aa a")
    assert(merge("a a a a", "a", "a") === "aa aa")
    assert(merge("a a a a a", "a", "a") === "aa aa a")
    // alternating pair merges at EVERY site in one pass (the
    // two-pass-replace formulation only catches every other one)
    assert(merge("a b a b a b", "a", "b") === "ab ab ab")
  }

  test("merge requires token equality, not suffix equality") {
    // last token `bb` ends with the text of `b` but IS NOT `b`
    assert(merge("a bb c", "b", "c") === "a bb c")
    // token-boundary check: `xa b` must not merge inside `xa`
    assert(merge("xa b", "a", "b") === "xa b")
    // but a true last-token match does merge
    assert(merge("x a b", "a", "b") === "x ab")
    // single-token strings pass through the seed-only fold
    assert(merge("a", "a", "a") === "a")
  }

  test("merged tokens participate in later rounds") {
    // round 1: (l,o) → lo; round 2: (lo,w) → low
    val r1 = merge("l o w l o w", "l", "o")
    assert(r1 === "lo w lo w")
    assert(merge(r1, "lo", "w") === "low low")
  }

  test("metacharacter tokens merge literally (no LIKE semantics)") {
    assert(merge("% _", "%", "_") === "%_")
    assert(merge("x % _", "a", "b") === "x % _")
    assert(merge("a' b", "a'", "b") === "a'b")
  }

  test("training run on a mini corpus matches the hand computation") {
    import spark.implicits._
    // corpus: "low low lower" → words {low:2, lower:1}
    // pair counts r1: (l,o)=3, (o,w)=3, (w,e)=1, (e,r)=1 → tie (l,o)
    // wins lexicographically; r2: (lo,w)=3 wins; r3: (e,r)=1 vs
    // (low,e)=1 → (e,r) wins ('e' < 'low')
    val dir = java.nio.file.Files.createTempDirectory("bpe_mini").toString
    Seq((1L, "low low lower")).toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    // t18 only reads `documents`; Tables.register isolates the other
    // (absent) tables' load failures, so this one-table dir suffices
    val out = graft.SparkEntry.queries("t18_bpe_train")(spark, dir)
      .orderBy("merge_rank")
      .collect()
      .map(r => (r.getInt(0), r.getString(1), r.getString(2), r.getLong(3), r.getLong(4)))
    // vocab {low:2, lower:1}: initial 2·3 + 1·5 = 11 tokens
    assert(out(0) === ((1, "l", "o", 3L, 8L)))   // low→[lo,w], lower→[lo,w,e,r]
    assert(out(1) === ((2, "lo", "w", 3L, 5L)))  // low→[low], lower→[low,e,r]
    assert(out(2) === ((3, "e", "r", 1L, 4L)))   // tie (low,e)=(e,r)=1 → 'e' < 'low'
    assert(out(3) === ((4, "low", "er", 1L, 3L)))

    // t21 (apply the tokenizer) must agree with t18's bookkeeping:
    // the corpus-wide BPE token count IS the last round's
    // tokens_after, and chars/words replay the raw text
    val t21 = graft.SparkEntry.queries("t21_bpe_tokenize")(spark, dir).collect()
    assert(t21.length === 1)
    assert(t21(0).getLong(1) === 3L)   // n_words
    assert(t21(0).getLong(2) === 11L)  // n_chars: low+low+lower
    assert(t21(0).getLong(3) === 3L)   // n_bpe == tokens_after(4)
  }
}
