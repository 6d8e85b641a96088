package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

class EditDistanceSpec extends SparkSpec {
  import spark.implicits._

  /** Plain DP Levenshtein — the definitional reference for brute checks. */
  private def lev(a: String, b: String): Int = {
    val d = Array.tabulate(a.length + 1, b.length + 1) { (i, j) =>
      if (i == 0) j else if (j == 0) i else 0
    }
    for (i <- 1 to a.length; j <- 1 to b.length)
      d(i)(j) = math.min(math.min(d(i - 1)(j) + 1, d(i)(j - 1) + 1),
        d(i - 1)(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
    d(a.length)(b.length)
  }

  /** Deterministic pseudo-random string over a tiny alphabet: small
    * alphabets maximize close pairs, lengths 2..11 straddle the
    * short/segment regime boundary (k=2 → shortMax=5). */
  private def mkStr(id: Long): String = {
    var h = id * 2654435761L + 99991L
    val len = 2 + (math.abs(h) % 10).toInt
    val sb = new StringBuilder
    for (_ <- 0 until len) {
      h = h * 6364136223846793005L + 1442695040888963407L
      sb += "abc" (((math.abs(h) >>> 17) % 3).toInt)
    }
    sb.toString
  }

  private def bruteSelf(strs: Seq[(Long, String)], k: Int): Set[(Long, Long, Int)] =
    (for {
      (ia, sa) <- strs; (ib, sb) <- strs
      if ia < ib
      d = lev(sa, sb) if d <= k
    } yield (ia, ib, d)).toSet

  test("self-join matches DP brute force across the short/gram regime boundary") {
    val strs = (0L until 200L).map(i => (i, mkStr(i)))
    for (k <- Seq(1, 2)) {
      val got = EditDistance.editDistancePairs(
          strs.toDF("id", "s"), "id", "s", maxDist = k)
        .as[(Long, Long, Int)].collect().toSet
      assert(got == bruteSelf(strs, k), s"maxDist=$k")
    }
  }

  test("long-string pairs (segment regime only) stay exact") {
    val strs = (0L until 120L).map(i => (i, mkStr(i) * 3)) // lengths 6..33
    val got = EditDistance.editDistancePairs(
        strs.toDF("id", "s"), "id", "s", maxDist = 2)
      .as[(Long, Long, Int)].collect().toSet
    assert(got == bruteSelf(strs, 2))
  }

  test("identical strings pair at distance 0 and output ids are ordered") {
    val df = Seq((7L, "samestring"), (3L, "samestring"), (9L, "other"))
      .toDF("id", "s")
    val got = EditDistance.editDistancePairs(df, "id", "s", 1)
      .as[(Long, Long, Int)].collect().toSet
    assert(got == Set((3L, 7L, 0)))
  }

  test("NULL ids and strings are dropped, not joined") {
    val df = Seq((Some(1L), Some("abcd")), (Some(2L), None),
      (None, Some("abcd")), (Some(3L), Some("abcd"))).toDF("id", "s")
    val got = EditDistance.editDistancePairs(df, "id", "s", 2)
      .as[(Long, Long, Int)].collect().toSet
    assert(got == Set((1L, 3L, 0)))
  }

  test("linkRecords finds mutual best 1:1 matches with deterministic ties") {
    // right 10 is equidistant (d=1) from lefts 1 and 2 -> its best-left
    // tie breaks to left 1; left 2 prefers its exact match 11 (d=0), and
    // 11 agrees. Left 2 also sits at d=1 from right 10 (tie with left 1
    // on 10's side) but mutual-best is single-round, not iterative: the
    // (2,10) edge dies because 10 is not left 2's best AND 2 is not
    // right 10's best. Left 3 matches nothing within maxDist.
    val left = Seq((1L, "alpha"), (2L, "alphb"), (3L, "gamma"))
      .toDF("lid", "ls")
    val right = Seq((10L, "alph"), (11L, "alphb"), (12L, "delta"))
      .toDF("rid", "rs")
    val got = EditDistance.linkRecords(
        left, "lid", "ls", right, "rid", "rs", maxDist = 2)
      .as[(Long, Long, Int)].collect().toSet
    assert(got == Set((1L, 10L, 1), (2L, 11L, 0)))
  }

  test("linkRecords candidate stage is complete: every true pair scored (brute parity)") {
    val left = (0L until 90L).map(i => (i, mkStr(i)))
    val right = (100L until 190L).map(i => (i, mkStr(i * 7 + 1)))
    val expectedScored = (for {
      (il, sl) <- left; (ir, sr) <- right
      d = lev(sl, sr) if d <= 2
    } yield (il, ir, d)).toSet
    // mutual-best of the brute scored set, same tie rule
    val bestR = expectedScored.groupBy(_._1).map { case (l, ps) =>
      (l, ps.minBy(p => (p._3, p._2))._2) }
    val bestL = expectedScored.groupBy(_._2).map { case (r, ps) =>
      (r, ps.minBy(p => (p._3, p._1))._1) }
    val expected = expectedScored.filter { case (l, r, _) =>
      bestR.get(l).contains(r) && bestL.get(r).contains(l) }
    val got = EditDistance.linkRecords(left.toDF("id", "s"), "id", "s",
        right.toDF("id", "s"), "id", "s", maxDist = 2)
      .as[(Long, Long, Int)].collect().toSet
    assert(got == expected)
  }

  test("incremental pairs vs a stored index equal the full join restricted to batch-touching pairs") {
    val all = (0L until 220L).map(i => (i, mkStr(i)))
    val (hist, batch) = all.partition(_._1 % 5 != 2)
    val root = tmpDir("ed-index")
    EditDistance.writeIndex(hist.toDF("id", "s"), "id", "s", 2, root)
    val got = EditDistance.incrementalPairs(
        batch.toDF("id", "s"), "id", "s", root)
      .as[(Long, Long, Int)].collect().toSet
    val batchIds = batch.map(_._1).toSet
    val expected = bruteSelf(all, 2).filter { case (a, b, _) =>
      batchIds(a) || batchIds(b) }
    assert(got == expected)
    // appendIndex folds the batch in: a second batch must now see it as
    // history (pair (old-batch, new-batch) found via the stored probe)
    EditDistance.appendIndex(batch.toDF("id", "s"), "id", "s", root, "day1")
    val batch2 = (220L until 260L).map(i => (i, mkStr(i)))
    val got2 = EditDistance.incrementalPairs(
        batch2.toDF("id", "s"), "id", "s", root)
      .as[(Long, Long, Int)].collect().toSet
    val ids2 = batch2.map(_._1).toSet
    val expected2 = bruteSelf(all ++ batch2, 2).filter { case (a, b, _) =>
      ids2(a) || ids2(b) }
    assert(got2 == expected2)
  }

  /** The live generation directory of a stored index. */
  private def genDir(p: String): String = {
    val gens = new java.io.File(p).listFiles()
      .filter(f => f.isDirectory && f.getName.matches("gen-\\d{7}"))
      .map(_.toString).sorted
    assert(gens.nonEmpty, s"no committed generation under $p")
    gens.last
  }

  test("compactIndex folds batches into a fresh base: probes and replay guards invariant") {
    val all = (0L until 160L).map(i => (i, mkStr(i)))
    val (hist, rest) = all.partition(_._1 % 3 == 0)
    val (b1, b2) = rest.partition(_._1 % 3 == 1)
    val root = tmpDir("ed-compact")
    EditDistance.writeIndex(hist.toDF("id", "s"), "id", "s", 2, root)
    EditDistance.appendIndex(b1.toDF("id", "s"), "id", "s", root, "b1")
    EditDistance.appendIndex(b2.toDF("id", "s"), "id", "s", root, "b2")
    val probe = Seq((900L, mkStr(5L)), (901L, mkStr(8L))).toDF("id", "s")
    val before = EditDistance.incrementalPairs(probe, "id", "s", root)
      .as[(Long, Long, Int)].collect().toSet
    val genBefore = genDir(root)

    EditDistance.compactIndex(spark, root)

    assert(genDir(root) != genBefore)
    // superseded generation retained one cycle (reader grace), reclaimed
    // by the NEXT publish — asserted below after the second compact
    assert(new java.io.File(genBefore).exists(),
      "previous generation kept one cycle for in-flight readers")
    assert(EditDistance.liveBatchCount(spark, root) == 0)
    // compact-then-probe ≡ composed-probe ≡ from-scratch writeIndex
    assert(EditDistance.incrementalPairs(probe, "id", "s", root)
      .as[(Long, Long, Int)].collect().toSet == before)
    val fresh = tmpDir("ed-compact2")
    EditDistance.writeIndex(all.toDF("id", "s"), "id", "s", 2, fresh)
    assert(EditDistance.incrementalPairs(probe, "id", "s", fresh)
      .as[(Long, Long, Int)].collect().toSet == before)
    // the ledger absorbed the batches: replay still refused
    assert(EditDistance.batchIngested(spark, root, "b1"))
    assert(EditDistance.batchIngested(spark, root, "b2"))
    val e = intercept[IllegalStateException] {
      EditDistance.appendIndex(b1.toDF("id", "s"), "id", "s", root, "b1")
    }
    assert(e.getMessage.contains("already ingested"))
    // and the index keeps rolling forward after the compact
    EditDistance.appendIndex(
      Seq((950L, mkStr(11L))).toDF("id", "s"), "id", "s", root, "b3")
    assert(EditDistance.batchIngested(spark, root, "b3"))
    // a second compact reclaims the generation the first one superseded
    EditDistance.compactIndex(spark, root)
    assert(!new java.io.File(genBefore).exists(),
      "two-cycles-old generation reclaimed by the next publish")
    assert(EditDistance.batchIngested(spark, root, "b3"))
  }

  test("rebuild over a live index supersedes base AND batches, keeps the ledger") {
    val all = (0L until 120L).map(i => (i, mkStr(i)))
    val (hist, batch) = all.partition(_._1 % 4 != 3)
    val root = tmpDir("ed-rebuild")
    EditDistance.writeIndex(hist.toDF("id", "s"), "id", "s", 2, root)
    EditDistance.appendIndex(batch.toDF("id", "s"), "id", "s", root, "day1")
    // rebuild over a FILTERED corpus (batch docs dropped on purpose): an
    // in-place rewrite would have composed the new base with the stale
    // day1 segments and silently resurrected the dropped strings
    EditDistance.writeIndex(hist.toDF("id", "s"), "id", "s", 2, root)
    val probe = Seq((900L, mkStr(batch.head._1))).toDF("id", "s")
    val got = EditDistance.incrementalPairs(probe, "id", "s", root)
      .as[(Long, Long, Int)].collect().toSet
    val batchIds = batch.map(_._1).toSet
    assert(!got.exists { case (a, b, _) => batchIds(a) || batchIds(b) },
      s"dropped batch strings leaked from stale batch dirs: $got")
    // the ledger carried forward: a streaming replay of day1 is skipped
    assert(EditDistance.batchIngested(spark, root, "day1"))
  }

  test("appendIndex commits whole batches: double-append fails loud, a crashed staging dir is invisible") {
    val all = (0L until 120L).map(i => (i, mkStr(i)))
    val (hist, batch) = all.partition(_._1 % 4 != 3)
    val root = tmpDir("ed-atomic")
    EditDistance.writeIndex(hist.toDF("id", "s"), "id", "s", 2, root)
    EditDistance.appendIndex(batch.toDF("id", "s"), "id", "s", root, "b1")
    assert(EditDistance.batchIngested(spark, root, "b1"))
    assert(!EditDistance.batchIngested(spark, root, "b2"))
    // the retry-after-success crash window: a blind re-append of a
    // committed batch would double its segments — it must refuse
    val e = intercept[IllegalStateException] {
      EditDistance.appendIndex(batch.toDF("id", "s"), "id", "s", root, "b1")
    }
    assert(e.getMessage.contains("already ingested"), e.getMessage)
    // a crash mid-append leaves only the dot-prefixed staging dir; the
    // reader scans committed batches only, so results are as if the
    // crashed append never started
    val before = EditDistance.incrementalPairs(
        Seq((500L, mkStr(3L))).toDF("id", "s"), "id", "s", root)
      .as[(Long, Long, Int)].collect().toSet
    Seq((999L, "zz")).toDF("id", "s").write.mode("overwrite")
      .parquet(s"${genDir(root)}/.batch-crashed.inprogress/segs")
    val after = EditDistance.incrementalPairs(
        Seq((500L, mkStr(3L))).toDF("id", "s"), "id", "s", root)
      .as[(Long, Long, Int)].collect().toSet
    assert(after == before)
    // recovery from the crash: the SAME batch id re-stages cleanly
    EditDistance.appendIndex(
      Seq((600L, mkStr(7L))).toDF("id", "s"), "id", "s", root, "crashed")
    assert(EditDistance.batchIngested(spark, root, "crashed"))
  }

  test("a torn index base (one component rewritten without restamping) fails loud") {
    val all = (0L until 60L).map(i => (i, mkStr(i)))
    val root = tmpDir("ed-torn")
    EditDistance.writeIndex(all.toDF("id", "s"), "id", "s", 2, root)
    // simulate a crashed partial rebuild: shorts rewritten alone — the
    // parquet overwrite wipes its generation stamp
    val g = genDir(root)
    spark.read.parquet(s"$g/shorts").limit(1)
      .write.mode("overwrite").parquet(s"$g/shorts.tmp")
    spark.read.parquet(s"$g/shorts.tmp")
      .write.mode("overwrite").parquet(s"$g/shorts")
    val e = intercept[IllegalStateException] {
      EditDistance.incrementalPairs(
        Seq((500L, mkStr(3L))).toDF("id", "s"), "id", "s", root)
    }
    assert(e.getMessage.contains("torn or stale"), e.getMessage)
    // a full rewrite restores alignment
    EditDistance.writeIndex(all.toDF("id", "s"), "id", "s", 2, root)
    EditDistance.incrementalPairs(
      Seq((500L, mkStr(3L))).toDF("id", "s"), "id", "s", root).count()
  }

  test("partitioning independence") {
    val strs = (0L until 150L).map(i => (i, mkStr(i)))
    val a = EditDistance.editDistancePairs(strs.toDF("id", "s"), "id", "s", 2)
      .orderBy("id_a", "id_b").collect().toSeq
    val b = EditDistance.editDistancePairs(
        strs.toDF("id", "s").repartition(13), "id", "s", 2)
      .orderBy("id_a", "id_b").collect().toSeq
    assert(a == b)
  }
}
