package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

class ClosureStoreSpec extends SparkSpec {
  import spark.implicits._

  /** Tiny deterministic corpus: 8-word chunks shared across docs create a
    * share graph with a hub move when the batch arrives (doc 1 < hub 2). */
  private val chunkA = "a b c d e f g h"
  private val chunkB = "p q r s t u v w"
  private val chunkC = "k l m n o aa bb cc"

  private def oldDocs = Seq(
    (2L, chunkA),                       // seed (2 % 31 != 0 — use explicit seeds)
    (4L, chunkA + " " + chunkB),        // shares A with 2
    (6L, chunkB),                       // shares B with 4
    (8L, chunkC),                       // isolated from the seed side
    (10L, "zz yy xx ww vv uu tt ss")    // unique text, no edges
  ).toDF("doc_id", "text")

  private def newDocs = Seq(
    (1L, chunkA),                       // joins chunk A, MOVES its hub (1 < 2)
    (3L, chunkC + " extra tail words here now"), // pulls 8 into reach if seeded
    (5L, "completely fresh words nobody shares")
  ).toDF("doc_id", "text")

  private def fromScratch(seeds: Seq[Long]) = {
    val docs = oldDocs.unionByName(newDocs)
    val star = Dedup.chunkShareEdges(docs)
    val edges = star.unionAll(
      star.select(col("b_id").as("a_id"), col("a_id").as("b_id")))
    Graph.reachableFrom(edges, seeds.toDF("doc_id"),
        srcCol = "a_id", dstCol = "b_id")
      .select("node").as[Long].collect().toSet
  }

  /** The live generation directory of a store (highest committed gen). */
  private def genDir(p: String): String = {
    val gens = new java.io.File(p).listFiles()
      .filter(f => f.isDirectory && f.getName.matches("gen-\\d{7}"))
      .map(_.toString).sorted
    assert(gens.nonEmpty, s"no committed generation under $p")
    gens.last
  }

  test("foldDelta equals the from-scratch closure over the union, hub move included") {
    val p = tmpDir("cstore")
    ClosureStore.build(oldDocs, Seq(2L).toDF("doc_id"), p)
    val folded = ClosureStore.foldDelta(newDocs, spark.emptyDataset[Long].toDF("doc_id"), p)
      .select("node").as[Long].collect().toSet
    assert(folded == fromScratch(Seq(2L)))
    // the hub of chunk A moved (2 → 1): doc 1 must be in the closure
    assert(folded.contains(1L))
  }

  test("new seeds in the batch expand through the delta region") {
    val p = tmpDir("cstore-seeds")
    ClosureStore.build(oldDocs, Seq(2L).toDF("doc_id"), p)
    val folded = ClosureStore.foldDelta(newDocs, Seq(3L).toDF("doc_id"), p)
      .select("node").as[Long].collect().toSet
    // seed 3 shares chunk C with old doc 8 — both join the closure
    assert(folded == fromScratch(Seq(2L, 3L)))
    assert(folded.contains(8L))
    // each node appears exactly once even though seed handling unions
    val rows = ClosureStore.foldDelta(newDocs, Seq(3L).toDF("doc_id"), p)
      .select("node").as[Long].collect()
    assert(rows.length == rows.toSet.size)
  }

  test("advance commits the daily cycle: two chained batches equal from-scratch") {
    val p = tmpDir("cstore-adv")
    ClosureStore.build(oldDocs, Seq(2L).toDF("doc_id"), p)
    // day 1: the hub-moving batch commits
    val day1 = ClosureStore.advance(newDocs, Seq(3L).toDF("doc_id"), p, "day1")
      .select("node").as[Long].collect().toSet
    assert(day1 == fromScratch(Seq(2L, 3L)))
    // day 2: a batch that re-touches chunk A (hub moves again: 0 < 1) and
    // brings a fresh isolated doc; folds must see day 1's committed state
    val day2Docs = Seq((0L, chunkA), (9L, "isolated brand new content words"))
      .toDF("doc_id", "text")
    val day2 = ClosureStore.advance(
        day2Docs, spark.emptyDataset[Long].toDF("doc_id"), p, "day2")
      .select("node").as[Long].collect().toSet
    val docs = oldDocs.unionByName(newDocs).unionByName(day2Docs)
    val star = Dedup.chunkShareEdges(docs)
    val edges = star.unionAll(
      star.select(col("b_id").as("a_id"), col("a_id").as("b_id")))
    val expected = Graph.reachableFrom(edges,
        Seq(2L, 3L).toDF("doc_id"), srcCol = "a_id", dstCol = "b_id")
      .select("node").as[Long].collect().toSet
    assert(day2 == expected)
    assert(day2.contains(0L), "the re-moved hub must be in the closure")
    // a later read-only fold composes base + both committed batches
    val fold = ClosureStore.foldDelta(
        Seq((20L, chunkA)).toDF("doc_id", "text"),
        spark.emptyDataset[Long].toDF("doc_id"), p)
      .select("node").as[Long].collect().toSet
    assert(fold == expected + 20L)
    // double-commit of a batch id fails loud; the probe answers first
    assert(ClosureStore.batchIngested(spark, p, "day1"))
    assert(!ClosureStore.batchIngested(spark, p, "day3"))
    // exact id matching: "ay1" is a SUFFIX of committed "day1" but was
    // never committed itself (the endsWith false-positive class — ids
    // containing '-' hit it: committed "x-b1" vs probe "b1")
    assert(!ClosureStore.batchIngested(spark, p, "ay1"))
    val e = intercept[IllegalStateException] {
      ClosureStore.advance(day2Docs, Seq.empty[Long].toDF("doc_id"), p, "day2")
    }
    assert(e.getMessage.contains("already committed"), e.getMessage)
    // a crashed staging dir is invisible to every reader
    Seq((99L, "junk")).toDF("doc_id", "text").write
      .parquet(s"${genDir(p)}/.batch-crashed.inprogress/postings")
    assert(ClosureStore.foldDelta(
        Seq((20L, chunkA)).toDF("doc_id", "text"),
        spark.emptyDataset[Long].toDF("doc_id"), p)
      .select("node").as[Long].collect().toSet == expected + 20L)
  }

  test("storedPostings/storedClosure equal their inline derivations (the g10/d58 steady-state pin)") {
    val p = tmpDir("cstore-read")
    ClosureStore.build(oldDocs, Seq(2L).toDF("doc_id"), p)
    ClosureStore.advance(newDocs, Seq(3L).toDF("doc_id"), p, "day1")
    val docs = oldDocs.unionByName(newDocs)
    // the posting table g10 derives its weighted edges from: stored
    // (base + committed batches) ≡ chunking the union corpus inline
    val stored = ClosureStore.storedPostings(spark, p)
      .as[(Long, String)].collect().toSet
    val inline = Dedup.chunkPostings(docs)
      .as[(Long, String)].collect().toSet
    assert(stored == inline)
    // ...so the weighted edges (df riding the hub aggregate) agree too
    val wStored = Dedup.weightedChunkShareEdges(
        ClosureStore.storedPostings(spark, p))
      .select("a_id", "b_id", "df").as[(Long, Long, Long)].collect().toSet
    val wInline = Dedup.weightedChunkShareEdges(Dedup.chunkPostings(docs))
      .select("a_id", "b_id", "df").as[(Long, Long, Long)].collect().toSet
    assert(wStored == wInline && wStored.nonEmpty)
    // the closure d58 composes: stored node set ≡ inline BFS from the
    // same seeds over the union corpus
    assert(ClosureStore.storedClosure(spark, p)
      .select("node").as[Long].collect().toSet == fromScratch(Seq(2L, 3L)))
  }

  test("compact folds batches into a fresh base: reads, folds, and probes invariant") {
    val p = tmpDir("cstore-cmp")
    ClosureStore.build(oldDocs, Seq(2L).toDF("doc_id"), p)
    ClosureStore.advance(newDocs, Seq(3L).toDF("doc_id"), p, "day1")
    val day2Docs = Seq((0L, chunkA), (9L, "isolated brand new content words"))
      .toDF("doc_id", "text")
    ClosureStore.advance(day2Docs, spark.emptyDataset[Long].toDF("doc_id"), p, "day2")
    val before = ClosureStore.storedClosure(spark, p)
      .select("node").as[Long].collect().toSet
    val probe = Seq((20L, chunkA)).toDF("doc_id", "text")
    val foldBefore = ClosureStore.foldDelta(
        probe, spark.emptyDataset[Long].toDF("doc_id"), p)
      .select("node").as[Long].collect().toSet
    val genBefore = genDir(p)

    ClosureStore.compact(spark, p)

    // a new generation replaced the old one; no batch dirs remain; the
    // superseded generation is RETAINED one cycle (reader grace — an
    // in-flight lazy frame keeps its files) and reclaimed by the next
    // publish, asserted at the end of this test
    assert(genDir(p) != genBefore)
    assert(new java.io.File(genBefore).exists(),
      "previous generation kept one cycle for in-flight readers")
    assert(!new java.io.File(s"${genDir(p)}/batches").exists() ||
      new java.io.File(s"${genDir(p)}/batches").listFiles().isEmpty)
    // compact-then-read ≡ composed-read
    assert(ClosureStore.storedClosure(spark, p)
      .select("node").as[Long].collect().toSet == before)
    // compact-then-fold ≡ composed-fold
    assert(ClosureStore.foldDelta(
        probe, spark.emptyDataset[Long].toDF("doc_id"), p)
      .select("node").as[Long].collect().toSet == foldBefore)
    // ≡ from-scratch build over the accumulated corpus
    val all = oldDocs.unionByName(newDocs).unionByName(day2Docs)
    val p2 = tmpDir("cstore-cmp2")
    ClosureStore.build(all, Seq(2L, 3L).toDF("doc_id"), p2)
    assert(ClosureStore.storedClosure(spark, p2)
      .select("node").as[Long].collect().toSet == before)
    // the replay ledger absorbed the compacted batches: probes still
    // answer true and a replayed advance still fails loud
    assert(ClosureStore.batchIngested(spark, p, "day1"))
    assert(ClosureStore.batchIngested(spark, p, "day2"))
    assert(!ClosureStore.batchIngested(spark, p, "day3"))
    val e = intercept[IllegalStateException] {
      ClosureStore.advance(day2Docs, Seq.empty[Long].toDF("doc_id"), p, "day2")
    }
    assert(e.getMessage.contains("already committed"))
    // the store keeps rolling forward after a compact
    val day3 = ClosureStore.advance(
        Seq((21L, chunkB)).toDF("doc_id", "text"),
        spark.emptyDataset[Long].toDF("doc_id"), p, "day3")
      .select("node").as[Long].collect().toSet
    assert(day3 == before + 21L)
    // a second compact reclaims the generation the first one superseded
    ClosureStore.compact(spark, p)
    assert(!new java.io.File(genBefore).exists(),
      "two-cycles-old generation reclaimed by the next publish")
    assert(ClosureStore.storedClosure(spark, p)
      .select("node").as[Long].collect().toSet == before + 21L)
  }

  test("a crash mid-compact leaves the old generation fully readable") {
    val p = tmpDir("cstore-crash")
    ClosureStore.build(oldDocs, Seq(2L).toDF("doc_id"), p)
    ClosureStore.advance(newDocs, Seq(3L).toDF("doc_id"), p, "day1")
    val before = ClosureStore.storedClosure(spark, p)
      .select("node").as[Long].collect().toSet
    // simulate a compact that crashed mid-staging: a partial dot-prefixed
    // next-generation dir (only one component written, nothing stamped)
    spark.read.parquet(s"${genDir(p)}/closure").write
      .parquet(s"$p/.gen-0000002.inprogress/closure")
    // every reader still resolves the committed generation
    assert(ClosureStore.storedClosure(spark, p)
      .select("node").as[Long].collect().toSet == before)
    assert(ClosureStore.batchIngested(spark, p, "day1"))
    // a retried compact restages over the leftover and commits cleanly
    ClosureStore.compact(spark, p)
    assert(ClosureStore.storedClosure(spark, p)
      .select("node").as[Long].collect().toSet == before)
  }

  test("rebuild over a live store supersedes base AND batches, keeps the ledger") {
    val p = tmpDir("cstore-rebuild")
    ClosureStore.build(oldDocs, Seq(2L).toDF("doc_id"), p)
    ClosureStore.advance(newDocs, Seq(3L).toDF("doc_id"), p, "day1")
    // rebuild over a FILTERED corpus (docs 3, 5 dropped on purpose) — the
    // advisor's poison case for in-place rebuilds: stale batch postings
    // must NOT compose with the new base
    val rebuiltCorpus = oldDocs.unionByName(newDocs)
      .filter(col("doc_id") =!= 3L && col("doc_id") =!= 5L)
    ClosureStore.build(rebuiltCorpus, Seq(2L).toDF("doc_id"), p)
    val star = Dedup.chunkShareEdges(rebuiltCorpus)
    val edges = star.unionAll(
      star.select(col("b_id").as("a_id"), col("a_id").as("b_id")))
    val expected = Graph.reachableFrom(edges, Seq(2L).toDF("doc_id"),
        srcCol = "a_id", dstCol = "b_id")
      .select("node").as[Long].collect().toSet
    assert(ClosureStore.storedClosure(spark, p)
      .select("node").as[Long].collect().toSet == expected)
    assert(!expected.contains(3L), "filtered doc must not leak from old batches")
    // the ledger carried forward: a streaming replay of day1 is skipped
    assert(ClosureStore.batchIngested(spark, p, "day1"))
  }

  test("a torn generation (one component rebuilt without restamping) fails loud") {
    val p = tmpDir("cstore-torn")
    ClosureStore.build(oldDocs, Seq(2L).toDF("doc_id"), p)
    // simulate a crashed partial rebuild: the closure is rewritten alone —
    // the parquet overwrite wipes its generation stamp
    val g = genDir(p)
    spark.read.parquet(s"$g/closure").limit(1)
      .write.mode("overwrite").parquet(s"$g/closure.tmp")
    spark.read.parquet(s"$g/closure.tmp")
      .write.mode("overwrite").parquet(s"$g/closure")
    val e = intercept[IllegalStateException] {
      ClosureStore.foldDelta(newDocs, Seq(3L).toDF("doc_id"), p)
    }
    assert(e.getMessage.contains("torn or stale"))
  }

  test("stamps from two different builds never align") {
    val p1 = tmpDir("cstore-g1")
    val p2 = tmpDir("cstore-g2")
    ClosureStore.build(oldDocs, Seq(2L).toDF("doc_id"), p1)
    ClosureStore.build(oldDocs, Seq(2L).toDF("doc_id"), p2)
    // cross-wiring components of two builds is the mixed-generation state
    val e = intercept[IllegalStateException] {
      ArtifactStamp.verifyAligned(spark, "cross",
        Seq(s"${genDir(p1)}/postings", s"${genDir(p2)}/edges"))
    }
    assert(e.getMessage.contains("torn or stale"))
  }
}
