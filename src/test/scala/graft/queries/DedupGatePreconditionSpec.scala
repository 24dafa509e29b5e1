package graft.queries

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DoubleType

/** Pins the PRECONDITIONS the incremental near-dup hash gates stand on
  * (q_dedup_incremental_near / q_dedup_index_append / q_stream_dedup_near),
  * so a regenerated corpus fails HERE with a named cause instead of as
  * an opaque oracle hash mismatch:
  *
  *  1. banding recall is exactly 1 on the corpus' qualifying (J ≥ τ)
  *     cross-split pairs — 8×4 banding catches a J≈0.5 pair with only
  *     ~0.40 probability, so the gates are only deterministic because
  *     THIS corpus' qualifying pairs sit high enough that the fixed
  *     permutation draw catches every one;
  *  2. planted replay id offsets (derived as max(doc_id)+1 — see
  *     [[Dedup.docReplayOffset]]) clear the organic doc_id range on ANY
  *     corpus, so replays can never be conflated with real docs.
  */
class DedupGatePreconditionSpec extends graft.SparkSpec {

  test("banding recall == 1 on every qualifying cross-split pair " +
    "(the q_dedup_incremental_near gate precondition)") {
    val thr = 300L
    val docs = graft.Tables.documents(spark, sf)
    val corpus = docs.filter(col("doc_id") < thr).select(col("doc_id"), col("text"))
    val replays = corpus.filter(col("doc_id") % 5 === 0)
      .select((col("doc_id") + lit(Dedup.docReplayOffset(docs))).as("doc_id"),
        concat(col("text"), lit(" qq7")).as("text"))
    val batch = docs.filter(col("doc_id") >= thr)
      .select(col("doc_id"), col("text")).unionByName(replays)
    // brute-force qualifying pairs (the oracle's ground truth)
    def grams(df: org.apache.spark.sql.DataFrame, id: String, g: String) =
      df.select(col("doc_id").as(id),
        array_distinct(graft.functions.WordNgrams.grams(col("text"), 2)).as(g))
    val truth = grams(batch, "batch_id", "bg")
      .crossJoin(grams(corpus, "corpus_id", "cg"))
      .select(col("batch_id"), col("corpus_id"),
        (size(array_intersect(col("bg"), col("cg"))).cast(DoubleType) /
          size(array_union(col("bg"), col("cg"))).cast(DoubleType)).as("j"))
      .filter(col("j") >= 0.5)
    // candidates from the SAME banding the gated entries use
    val cand = Dedup.minhashBanded(batch).as("x")
      .join(Dedup.minhashBanded(corpus).as("y"),
        col("x.band") === col("y.band") && col("x.bucket") === col("y.bucket"))
      .select(col("x.doc_id").as("batch_id"), col("y.doc_id").as("corpus_id"))
      .distinct()
    val missed = truth.join(cand, Seq("batch_id", "corpus_id"), "left_anti")
      .collect()
    assert(missed.isEmpty,
      "CORPUS REGENERATION HAZARD: 8x4 MinHash banding missed " +
        s"qualifying (J>=0.5) cross-split pairs ${missed.mkString(", ")} — " +
        "the q_dedup_incremental_near/q_dedup_index_append/" +
        "q_stream_dedup_near hash gates are no longer deterministic on " +
        "this corpus; raise the gate threshold or the band count before " +
        "trusting them")
  }

  test("banding recall == 1 on every qualifying embedding pair (the " +
    "q_dedup_embed / q_dedup_embed_incremental gate precondition, " +
    "embed side — round 15)") {
    // Both embed gates' oracles are brute-force cosine >= tau forms,
    // conditional on the hyperplane banding catching EVERY qualifying
    // pair of THIS corpus (a 0.95-cosine pair is missed with prob
    // ~1.2e-3 at the sized knobs — deterministic per corpus since the
    // planes are seeded, but a REGENERATED corpus could land a pair in
    // the miss set and hash-fail the gates persistently). Fail HERE
    // with a named cause instead.
    import graft.functions.VectorOps
    val emb = graft.Tables.embeddings(spark, sf)
      .select(col("vec_id"),
        org.apache.spark.sql.functions.transform(col("embedding"),
          x => x.cast("double")).as("vec"))
    // the corpora the two gates actually screen: the full table plus
    // the incremental entry's re-encode replays (+0.02 drift, derived
    // id offset) — qualifying pairs must be banding-caught in BOTH
    val off = emb.agg(max(col("vec_id"))).head.getLong(0) + 1L
    val withReplays = emb.unionByName(emb.filter(col("vec_id") % 5 === 0)
      .select((col("vec_id") + lit(off)).as("vec_id"),
        org.apache.spark.sql.functions.transform(col("vec"),
          x => x + lit(0.02)).as("vec")))
    val base = withReplays
      .select(col("vec_id"), VectorOps.normalized(col("vec")).as("nvec"))
    // brute-force qualifying pairs (the oracles' ground truth)
    val a = base.select(col("vec_id").as("a_id"), col("nvec").as("a_n"))
    val b = base.select(col("vec_id").as("b_id"), col("nvec").as("b_n"))
    val truth = a.crossJoin(b)
      .filter(col("a_id") < col("b_id"))
      .filter(VectorOps.dotD(col("a_n"), col("b_n")) >= 0.95)
      .select(col("a_id"), col("b_id"))
    // candidates from the SAME banding the gated entries use
    val cand = Dedup.embedNearDupPairs(withReplays, "vec_id", "vec",
        dims = 64, threshold = 0.95)
      .select(col("a_id"), col("b_id"))
    val missed = truth.join(cand, Seq("a_id", "b_id"), "left_anti").collect()
    assert(truth.count() > 0, "corpus should contain qualifying pairs " +
      "(the replay plant guarantees some)")
    assert(missed.isEmpty,
      "CORPUS REGENERATION HAZARD: hyperplane banding missed qualifying " +
        s"(cosine>=0.95) pairs ${missed.mkString(", ")} — the " +
        "q_dedup_embed/q_dedup_embed_incremental hash gates are no " +
        "longer deterministic on this corpus; raise bits/bands or the " +
        "gate threshold before trusting them")
  }

  test("banding recall == 1 on the q_dedup_embed PLANTED corpus " +
    "(round-18: the entry now augments the table with copy + sign-flip " +
    "replays — its brute-force oracle is only deterministic if the " +
    "banding catches every planted qualifying pair)") {
    import graft.functions.VectorOps
    val aug = Dedup.plantedEmbeddings(graft.Tables.embeddings(spark, sf))
    val base = aug.select(col("vec_id"),
      VectorOps.normalized(col("embedding")).as("nvec"))
    val a = base.select(col("vec_id").as("a_id"), col("nvec").as("a_n"))
    val b = base.select(col("vec_id").as("b_id"), col("nvec").as("b_n"))
    val truth = a.crossJoin(b)
      .filter(col("a_id") < col("b_id"))
      .filter(VectorOps.dotD(col("a_n"), col("b_n")) >= 0.95)
      .select(col("a_id"), col("b_id"))
    val cand = Dedup.embedNearDupPairs(aug, "vec_id", "embedding",
        dims = 64, threshold = 0.95)
      .select(col("a_id"), col("b_id"))
    assert(truth.count() > 0,
      "the plant must produce qualifying pairs — a 0-row gate is vacuous")
    val missed = truth.join(cand, Seq("a_id", "b_id"), "left_anti").collect()
    assert(missed.isEmpty,
      "CORPUS REGENERATION HAZARD: banding missed planted qualifying " +
        s"pairs ${missed.mkString(", ")} — q_dedup_embed's hash gate is " +
        "not deterministic on this corpus")
  }

  test("replay ids sit strictly above the organic range even on an " +
    "id-shifted corpus (derived-offset conflation guard, text side)") {
    // ids planted INSIDE the old fixed replay ranges [100000,100300) and
    // [200000,200600): with the former +100000/+200000 constants these
    // organic docs would conflate with wave replays; the derived
    // max(doc_id)+1 offset must clear them on any corpus
    val dir = tempDir("graft_txtoff").toString
    val base = graft.Tables.documents(spark, "/root/testdata/sf0.001")
      .select(col("doc_id"), col("text"), col("lang"), col("source"),
        col("n_chars"))
    // organic docs at ids 100000..100039 that ARE near-dups of corpus
    // docs 0..39 (one appended token, the replay recipe) — with the old
    // fixed +100000 offset, ids 100000..100039 were RESERVED for replays
    // of corpus docs 0..39, so these organic docs would collide with
    // the planted replays of the very docs they duplicate
    val inRange = base.filter(col("doc_id") < 40)
      .select((col("doc_id") + lit(100000L)).as("doc_id"),
        concat(col("text"), lit(" zz9")).as("text"),
        col("lang"), col("source"), col("n_chars"))
    base.unionByName(inRange)
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val docs = graft.Tables.documents(spark, dir)
    val off = Dedup.docReplayOffset(docs)
    val maxDoc = docs.agg(max(col("doc_id"))).collect().head.getLong(0)
    assert(off == maxDoc + 1L,
      s"derived offset $off is not max(doc_id)+1 (max $maxDoc)")
    val rows = Dedup.qDedupIncrementalNear(spark, dir).collect()
    // every batch_id above the offset decodes to a genuine replay source
    // (corpus doc, %5 == 0) — nothing organic was misread as a replay
    rows.filter(_.getLong(0) >= off).foreach { r =>
      val src = r.getLong(0) - off
      assert(src < 300L && src % 5 == 0, s"non-replay id above offset: $r")
    }
    // and the organic in-old-range docs screen as THEMSELVES: each is
    // caught as a near-dup of its corpus source under its own id
    val organicCaught = rows.filter(r =>
      r.getLong(0) >= 100000L && r.getLong(0) < 100040L)
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    (0L until 40L).foreach { c =>
      assert(organicCaught.contains((c + 100000L, c)),
        s"organic doc ${c + 100000L} (near-dup of corpus $c) missing — " +
          "it was conflated with a planted replay")
    }
  }
}
