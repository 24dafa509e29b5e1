package graft

import org.apache.spark.sql.functions._
import graft.queries.TextAnalysis

/** Hand-computed BPE semantics for q_bpe_merges (registry values are
  * oracle-gated in Verify/check; this pins the algorithm itself). */
class BpeMergesSpec extends SparkSpec {

  test("merge table matches hand-run BPE on the classic low/lower corpus") {
    import spark.implicits._
    // corpus: low ×5, lower ×2, newest ×6, widest ×3  (char-level BPE)
    // step 1 pair counts: "e s" = 6+3 = 9, "s t" = 9, "w e" = 2+6 = 8,
    //   "l o" = 7, "o w" = 7, "n e" = 6, "e w" = 6, "w i" = 3, ...
    // argmax: count 9, tie "e s" < "s t" lexically → merge "e s" (es)
    // step 2: "es t" = 9 wins (count 9; "s t" gone)
    // step 3: "l o" = 7 and "o w" = 7 tie → "l o" lexically first
    val text = (Seq.fill(5)("low") ++ Seq.fill(2)("lower") ++
      Seq.fill(6)("newest") ++ Seq.fill(3)("widest")).mkString(" ")
    val dir = tempDir("graft_bpe").toString
    Seq((1L, text, "en", "src0", text.length.toLong))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = TextAnalysis.qBpeMerges(spark, dir, steps = 3).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSeq
    assert(got == Seq((1L, "e s", 9L), (2L, "es t", 9L), (3L, "l o", 7L)),
      s"got $got")
  }

  test("double-space encoding merges ALL occurrences of the top pair") {
    import spark.implicits._
    // "ababab" has pair "a b" ×3 and "b a" ×2; after merging "a b" the
    // sequence must read ab ab ab (all three merged — a single-space
    // encoding would strand the middle occurrence)
    val dir = tempDir("graft_bpe2").toString
    Seq((1L, "ababab", "en", "src0", 6L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val got = TextAnalysis.qBpeMerges(spark, dir, steps = 2).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2))).toSeq
    // step 1: "a b" ×3 beats "b a" ×2; step 2: remaining pairs are
    // "ab ab" ×2 (all three merged, leaving ab|ab|ab)
    assert(got == Seq((1L, "a b", 3L), (2L, "ab ab", 2L)), s"got $got")
  }
}
