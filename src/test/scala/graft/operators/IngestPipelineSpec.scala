package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The DAILY-INGEST COMPOSITION proof: the stored-artifact operators this
  * engine ships (quality gate, exact + near-dup indexes, COW merge, stats
  * manifest, KMV dataset sketches) composed into the pipeline a 100 TB
  * corpus actually runs every day — gate the batch, dedup it against
  * history WITHOUT rescanning history, merge it in, and have every
  * secondary artifact (manifest, fp index, LSH index, sketches) correct
  * afterwards. Each operator is oracled on its own elsewhere; this spec
  * pins that they COMPOSE: artifact freshness across the commit, replay
  * idempotence of the whole day, and next-day reads/dedups serving from
  * the refreshed artifacts. */
class IngestPipelineSpec extends SparkSpec {
  import spark.implicits._

  /** Gate-passing English text (18 words, en-stopword scaffold) whose
    * unique words interleave the scaffold, so two docs with different
    * fillers share NO 3-shingle — near-dup pairs exist only where the
    * fixture makes them on purpose. */
  private def en(u: String*): String = {
    require(u.length == 8)
    s"the ${u(0)} of ${u(1)} and ${u(2)} to ${u(3)} in ${u(4)} is " +
      s"${u(5)} while ${u(6)} keeps ${u(7)} near dawn"
  }

  private def docsDf(rows: Seq[(Long, String, String, String)]): DataFrame =
    rows.toDF("doc_id", "lang", "source", "text")

  test("gate -> incremental dedup -> merge -> artifact refresh composes, and the day replays as a no-op") {
    val root = tmpDir("graft-ingest")
    val table = s"$root/corpus"
    val manifest = s"$root/manifest"
    val fpIdx = s"$root/fp"
    val bandIdx = s"$root/bands"
    val shIdx = s"$root/shingles"
    val skIdx = s"$root/sketches"

    val t1 = en("alpha", "ember", "quill", "marsh", "tide", "grove", "falcon", "ridge")
    val t2 = en("berry", "cliff", "dunes", "eagle", "frost", "glade", "heron", "inlet")
    val t3 = en("jasper", "kelp", "lagoon", "maple", "nectar", "onyx", "pearl", "reef")
    val t10 = en("deserts", "tundra", "umber", "vale", "willow", "xenon", "yarrow", "zephyr")
    val t3v = en("jasper", "kelp", "lagoon", "revised", "nectar", "onyx", "pearl", "reef")

    // ---- day 0: seed corpus + every stored artifact ----
    val seed = docsDf(Seq(
      (1L, "en", "srcA", t1), (2L, "en", "srcA", t2), (3L, "en", "srcB", t3)))
    graft.sources.Sinks.parquetPartitioned(seed, table, Seq("source"))
    FileManifest.build(spark, table, Seq("doc_id"), manifest)
    seed.select(md5(col("text")).as("fp")).write.parquet(fpIdx)
    val (bands0, sh0) = Dedup.lshIndex(seed)
    bands0.write.parquet(bandIdx)
    sh0.write.parquet(shIdx)
    DatasetSketch.kmvSketches(seed, k = 32).write.parquet(skIdx)

    // ---- day 1 batch: one clean insert, one exact dup of doc 1, one
    // near-dup of doc 2 (appended word, J ~ 0.94), one gate reject, and
    // one same-key same-partition UPDATE of doc 3 ----
    val batch = docsDf(Seq(
      (10L, "en", "srcB", t10),
      (11L, "en", "srcA", t1),
      (12L, "en", "srcA", t2 + " extra"),
      (13L, "en", "srcB", "tiny junk"),
      (3L, "en", "srcB", t3v)))

    def runDay(b: DataFrame): Merge.MergeStats = {
      // 1. quality/lang gate
      val verdicts = Curation.gate(b)
      val kept = b.join(
        verdicts.filter(col("keep")).select("doc_id"), Seq("doc_id"))
      // 2. exact dedup vs the stored fingerprint index
      val afterExact = Dedup.incremental(kept, spark.read.parquet(fpIdx))
      // 3. near-dup vs the stored LSH index; a same-key match is an
      // UPDATE (the merge's job), not a duplicate — exempt it
      val nd = Dedup.incrementalNeardupPairs(afterExact,
          spark.read.parquet(bandIdx), spark.read.parquet(shIdx))
        .filter(col("new_id") =!= col("old_id"))
      // 4. LAND the accepted delta before touching any artifact. This is
      // load-bearing, not hygiene: the survivor plan READS the fp index
      // (the anti join), and Spark invalidates path-dependent caches on
      // write — an in-memory survivors frame re-evaluated after the fp
      // append would observe its own side effect and go empty. Landing
      // the delta once and pointing every artifact update at the landed
      // file is the production shape anyway (the delta is the day's
      // auditable output).
      val landing = tmpDir("graft-ingest-landing") + "/delta"
      afterExact
        .join(nd.select(col("new_id").as("doc_id")).distinct(),
          Seq("doc_id"), "left_anti")
        .select("doc_id", "lang", "source", "text")
        .write.parquet(landing)
      val survivors = spark.read.parquet(landing)
      // 5. COW merge with in-commit manifest refresh
      val st = Merge.upsert(spark, table, survivors,
        Seq("doc_id"), Seq("source"), manifestPath = Some(manifest))
      // 6. refresh the dedup indexes and the dataset sketches with the
      // rows that actually landed (append-only, delta-sized)
      if (!survivors.isEmpty) {
        survivors.select(md5(col("text")).as("fp"))
          .write.mode("append").parquet(fpIdx)
        val (nb, ns) = Dedup.lshIndex(survivors)
        nb.write.mode("append").parquet(bandIdx)
        ns.write.mode("append").parquet(shIdx)
        val refreshed = DatasetSketch.refreshSketches(
          spark.read.parquet(skIdx), survivors, k = 32).persist()
        refreshed.count()
        refreshed.write.mode("overwrite").parquet(s"$skIdx.next")
        spark.read.parquet(s"$skIdx.next")
          .write.mode("overwrite").parquet(skIdx)
        refreshed.unpersist()
      }
      st
    }

    val st1 = runDay(batch)

    // the gate rejected 13, exact dedup dropped 11, near-dup dropped 12;
    // 10 inserted and 3 replaced — both land in srcB, srcA never touched
    assert(st1.rowsWritten == 2 && st1.partitionsTouched == 1, st1)
    val now = spark.read.parquet(table)
      .select("doc_id", "text").as[(Long, String)].collect().toMap
    assert(now.keySet == Set(1L, 2L, 3L, 10L))
    assert(now(3L).contains("revised"))
    assert(now(10L).contains("deserts"))

    // ---- manifest freshness: pruned read after the commit sees exactly
    // the full scan's rows, and never a vanished file ----
    val (pruned, ps) = FileManifest.prunedRead(
      spark, table, manifest, Seq(("doc_id", 3L, 10L)))
    val full = spark.read.parquet(table)
      .filter(col("doc_id") >= 3 && col("doc_id") <= 10)
      .select("doc_id", "text").as[(Long, String)].collect().toSet
    assert(pruned.select("doc_id", "text")
      .as[(Long, String)].collect().toSet == full)
    assert(ps.filesSelected <= ps.filesTotal)

    // ---- sketch refresh == from-scratch over the add-only universe
    // (seed text plus every landed batch row; KMV refresh is add-only by
    // design — a replaced doc's OLD shingles stay in the union, which is
    // the stated contract and why a compaction-style rebuild exists) ----
    val landed = docsDf(Seq((10L, "en", "srcB", t10), (3L, "en", "srcB", t3v)))
    val scratch = DatasetSketch.kmvSketches(seed.unionByName(landed), k = 32)
      .select("g", "kmv").as[(String, Seq[String])].collect().toMap
    val stored = spark.read.parquet(skIdx)
      .select("g", "kmv").as[(String, Seq[String])].collect().toMap
    assert(stored == scratch)

    // ---- next-day dedup serves from the refreshed indexes: a near-dup
    // of day-1 survivor 10 is caught without any history rescan ----
    val day2 = docsDf(Seq((20L, "en", "srcB", t10 + " camel")))
    val nd2 = Dedup.incrementalNeardupPairs(day2,
      spark.read.parquet(bandIdx), spark.read.parquet(shIdx))
      .select("new_id", "old_id").as[(Long, Long)].collect().toSet
    assert(nd2.contains((20L, 10L)), nd2.toString)

    // ---- replay idempotence: the SAME day-1 batch re-runs as a no-op —
    // every survivor's fingerprint is now in the index, so nothing
    // reaches the merge, and table + manifest stay untouched ----
    val tableBefore = spark.read.parquet(table).inputFiles.toSet
    val manifestBefore = spark.read.parquet(manifest)
      .select("file").as[String].collect().toSet
    val st2 = runDay(batch)
    assert(st2.rowsWritten == 0 && st2.partitionsTouched == 0, st2)
    assert(spark.read.parquet(table).inputFiles.toSet == tableBefore)
    assert(spark.read.parquet(manifest)
      .select("file").as[String].collect().toSet == manifestBefore)
  }
}
