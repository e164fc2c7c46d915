package graft

import org.apache.spark.sql.functions.col
import org.scalatest.funsuite.AnyFunSuite

/** Randomized laws for the BPE trainer against plain-Scala references.
  * Generators use a 2-letter alphabet and tiny words so runs ("aaa"),
  * tied counts, and multi-symbol merge partners — exactly where a fold
  * or a tie-break goes subtly wrong — occur constantly. Seeded, so a
  * failure replays.
  */
class BpeLawsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private val sep = graft.functions.TextAnalysis.BpeSep

  /** Reference left-to-right non-overlapping merge: a just-merged
    * symbol never re-participates within the same pass (it equals
    * s1+s2, never s1 — the same invariant the distributed fold leans
    * on).
    */
  private def refMerge(syms: List[String], s1: String, s2: String): List[String] =
    syms match {
      case a :: b :: rest if a == s1 && b == s2 =>
        (s1 + s2) :: refMerge(rest, s1, s2)
      case a :: rest => a :: refMerge(rest, s1, s2)
      case Nil => Nil
    }

  /** Reference greedy trainer: exact pair counts over the current
    * symbol table, (count desc, s1 asc, s2 asc) argmax, merge, repeat.
    */
  private def refTrain(
      wf0: Map[String, Long], merges: Int): List[(Long, String, String, String, Long)] = {
    var wf: Map[List[String], Long] =
      wf0.map { case (w, n) => (w.toList.map(_.toString), n) }
    val out = scala.collection.mutable.ListBuffer
      .empty[(Long, String, String, String, Long)]
    var step = 1L
    var done = false
    while (step <= merges && !done) {
      val counts = scala.collection.mutable.Map.empty[(String, String), Long]
        .withDefaultValue(0L)
      for ((syms, n) <- wf; i <- 0 until syms.length - 1)
        counts((syms(i), syms(i + 1))) += n
      if (counts.isEmpty) done = true
      else {
        val ((s1, s2), c) = counts.toSeq.minBy { case ((a, b), n) => (-n, a, b) }
        out += ((step, s1, s2, s1 + s2, c))
        wf = wf.map { case (syms, n) => (refMerge(syms, s1, s2), n) }
        step += 1
      }
    }
    out.toList
  }

  test("distributed merge fold == reference on random symbol sequences") {
    val rnd = new scala.util.Random(20260815L)
    val alphabet = Vector("a", "b", "ab", "ba", "aa")
    for (_ <- 1 to 12) {
      val (s1, s2) = (alphabet(rnd.nextInt(alphabet.size)),
        alphabet(rnd.nextInt(alphabet.size)))
      val cases = Vector.fill(40)(
        List.fill(1 + rnd.nextInt(6))(alphabet(rnd.nextInt(alphabet.size))))
      val got = cases.map(_.mkString(sep)).toDF("syms")
        .select(graft.functions.TextAnalysis.bpeMergeFold(col("syms"), s1, s2))
        .collect().map(_.getString(0).split(sep, -1).toList)
      val want = cases.map(refMerge(_, s1, s2))
      assert(got.toSeq === want.toSeq, s"merge ($s1,$s2) diverged")
    }
  }

  test("distributed trainer == reference greedy on random corpora") {
    val rnd = new scala.util.Random(8151527L)
    for (case_ <- 1 to 4) {
      val words = (1 to 3 + rnd.nextInt(5)).map { _ =>
        (1 to 1 + rnd.nextInt(5)).map(_ => if (rnd.nextBoolean()) "a" else "b").mkString
      }.distinct
      val wf0 = words.map(w => w -> (1L + rnd.nextInt(3))).toMap
      val wfDf = wf0.toSeq.toDF("t", "n_w")
      val got = graft.functions.TextAnalysis.bpeVocabFromWf(spark, wfDf)
        .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2),
          r.getString(3), r.getLong(4))).toList.sortBy(_._1)
      val want = refTrain(wf0, graft.functions.TextAnalysis.BpeVocabMerges)
      assert(got === want, s"case $case_: corpus $wf0 diverged")
    }
  }

  /** Production merge counts: the 10-merge oracle regime folds every
    * merge as one stacked projection, which blows Catalyst plan size
    * at tokenizer-realistic N. Past [[TextAnalysis.BpeEncodeChunk]]
    * merges the encoder re-materializes the word→symbols table per
    * chunk instead, so plan depth stays ≤ the chunk size no matter
    * how many merges — this law pins trainer AND chunked encoder
    * against the plain-Scala reference at N ≥ 100.
    */
  test("trainer + chunked encoder == reference at N=120 merges") {
    val rnd = new scala.util.Random(13L)
    val letters = "abcdefgh"
    val words = (1 to 240).map(_ =>
      (1 to 3 + rnd.nextInt(8)).map(_ => letters(rnd.nextInt(letters.length))).mkString
    ).distinct
    val wf0 = words.map(w => w -> (1L + rnd.nextInt(5))).toMap
    val wfDf = wf0.toSeq.toDF("t", "n_w")
    val merges = 120
    val want = refTrain(wf0, merges)
    assert(want.size >= 100, s"fixture exhausted at ${want.size} merges")

    val got = graft.functions.TextAnalysis.bpeVocabFromWf(spark, wfDf, merges)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2),
        r.getString(3), r.getLong(4))).toList.sortBy(_._1)
    assert(got === want)

    // chunked encode under the learned merges == the reference fold —
    // and the chunking really engaged (>= 2 chunks at this N)
    val mergeList = want.map(t => (t._2, t._3))
    assert(mergeList.size > graft.functions.TextAnalysis.BpeEncodeChunk)
    val vocab0 = words.toDF("t").select(col("t"),
      org.apache.spark.sql.functions.array_join(
        org.apache.spark.sql.functions.expr(
          "transform(sequence(1, length(t)), i -> substring(t, i, 1))"),
        sep).as("syms"))
    val gotEnc = graft.functions.TextAnalysis.bpeEncodeSyms(vocab0, mergeList)
      .collect().map(r => r.getString(0) -> r.getString(1).split(sep, -1).toList)
      .toMap
    val wantEnc = words.map { w =>
      w -> mergeList.foldLeft(w.toList.map(_.toString)) {
        case (syms, (s1, s2)) => refMerge(syms, s1, s2)
      }
    }.toMap
    assert(gotEnc === wantEnc)
  }

  /** The driver replay encoder (inverted-index) against the
    * chunked distributed fold chain it replaces under the
    * vocabulary-grain bound: full SYMBOL SEQUENCES equal word for
    * word, with the chunking engaged (merges > BpeEncodeChunk) and
    * the non-BMP fixture words in the table (a per-UTF-16-char split
    * in either path would diverge here).
    */
  test("driver replay encoder == chunked fold-chain encoder, symbol for symbol") {
    val rnd = new scala.util.Random(20260817L)
    val letters = "abcdef"
    val nonBmp = Seq("a😀b", "😀a", "b")
    val words = ((1 to 240).map(_ =>
      (1 to 3 + rnd.nextInt(8)).map(_ => letters(rnd.nextInt(letters.length))).mkString
    ) ++ nonBmp).distinct
    // the merge list comes from the reference trainer over the ASCII
    // words (refTrain splits per UTF-16 char); the non-BMP words stay
    // in the encoded table. merges > BpeEncodeChunk (64 as of r18) so
    // the chunking genuinely engages — the assert below keeps this law
    // honest if the chunk size is ever raised again
    val ascii = words.filter(_.forall(_ < 128))
    val mergeList = refTrain(ascii.map(w => w -> (1L + rnd.nextInt(5))).toMap, 80)
      .map(t => (t._2, t._3))
    assert(mergeList.size > graft.functions.TextAnalysis.BpeEncodeChunk)

    val vocab0 = words.toDF("t").select(col("t"),
      org.apache.spark.sql.functions.array_join(
        org.apache.spark.sql.functions.expr(
          "transform(sequence(1, length(t)), i -> substring(t, i, 1))"),
        sep).as("syms"))
    val chunked = graft.functions.TextAnalysis.bpeEncodeSyms(vocab0, mergeList)
      .collect().map(r => r.getString(0) -> r.getString(1).split(sep, -1).toList)
      .toMap
    val wordsArr = words.toArray
    val replayed = graft.functions.TextAnalysis
      .bpeDriverEncodeSyms(wordsArr, mergeList)
    val driver = wordsArr.indices
      .map(i => wordsArr(i) -> replayed(i).toList).toMap
    assert(driver === chunked)
  }
}
