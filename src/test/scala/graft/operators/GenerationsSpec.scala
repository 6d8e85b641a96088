package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** The naming-overflow hardening (r16 advisor findings): fixed-width
  * zero-padding is a formatting convention, not a bound — generation and
  * batch sequences past their padding must stay visible to readers and
  * truthful to replay probes, or a published store silently vanishes /
  * a committed batch silently duplicates. */
class GenerationsSpec extends SparkSpec {
  import spark.implicits._

  test("generation dirs match past 7 digits and order numerically") {
    val dir = tmpDir("graft-genwidth")
    // lexicographically "gen-10000000" < "gen-9999999" — a string sort
    // would resolve the SUPERSEDED generation as current, and the 7-char
    // fixed regex would not match the new name at all (the published
    // store invisible to every reader)
    new java.io.File(s"$dir/gen-9999999").mkdirs()
    new java.io.File(s"$dir/gen-10000000").mkdirs()
    new java.io.File(s"$dir/.gen-10000001.inprogress").mkdirs() // staging: never listed
    new java.io.File(s"$dir/notagen").mkdirs()
    val names = Generations.dirs(spark, dir)
      .map(d => d.substring(d.lastIndexOf('/') + 1))
    assert(names == Seq("gen-9999999", "gen-10000000"))
    assert(Generations.current(spark, dir, "test store")
      .endsWith("gen-10000000"))
  }

  /** One batch-appendable store: build a base, append batch `id`, probe
    * it, and the ids its composed read serves, `served` once the batch
    * is in. */
  private case class Appendable(name: String, build: String => Unit,
      append: (String, String) => Unit, served: Set[Long],
      ingested: (String, String) => Boolean, ids: String => Set[Long])

  private val text = "a b c d e f g h"
  private def docs(rows: (Long, String)*) = rows.toDF("doc_id", "text")
  private def emb = graft.Tables.table(spark, sf(), "embeddings")

  private val stores = Seq(
    Appendable("ClosureStore",
      ClosureStore.build(docs(1L -> text, 2L -> text), Seq(1L).toDF("doc_id"), _),
      (dir, id) => ClosureStore.advance(docs(3L -> text),
        Seq.empty[Long].toDF("doc_id"), dir, id), Set(1L, 2L, 3L),
      ClosureStore.batchIngested(spark, _, _),
      // doc 3's postings are served, so the closure reaches it from the seed
      ClosureStore.storedClosure(spark, _).select("node").as[Long].collect().toSet),
    Appendable("EditDistance",
      EditDistance.writeIndex(docs(1L -> "abcdefghij", 2L -> "zzzzzzzzzz"),
        "doc_id", "text", 1, _),
      (dir, id) => EditDistance.appendIndex(docs(3L -> "abcdefghik"),
        "doc_id", "text", dir, id), Set(1L, 3L),
      EditDistance.batchIngested(spark, _, _),
      dir => EditDistance.incrementalPairs(docs(100L -> "abcdefghij"),
        "doc_id", "text", dir).select("id_a").as[Long].collect().toSet),
    Appendable("VectorIndex",
      VectorIndex.write(emb.filter(col("vec_id") < 250), _, m = 8, ks = 8),
      (dir, id) => VectorIndex.appendBatch(emb.filter(col("vec_id") >= 250), dir, id),
      (0L until 500L).toSet,
      VectorIndex.batchIngested(spark, _, _),
      VectorIndex.load(spark, _).codes.select("vid").as[Long].collect().toSet),
    Appendable("Winnowing",
      Winnowing.writeFingerprintIndex(docs(1L -> "one two three four five six"), _),
      (dir, id) => Winnowing.appendIndex(
        docs(3L -> "seven eight nine ten eleven twelve"), dir, id), Set(1L, 3L),
      Winnowing.batchIngested(spark, _, _),
      Winnowing.readFingerprintIndex(spark, _).select("did").as[Long].collect().toSet))

  for (st <- stores)
    test(s"a ${st.name} batch sequence past its 6-digit padding keeps replay protection") {
      val dir = tmpDir("graft-batchwidth")
      st.build(dir)
      st.append(dir, "day1")
      assert(st.ids(dir) == st.served)
      // simulate the millionth commit: the sequence prefix outgrows %06d —
      // a fixed 7-char drop would parse the batch id as "-day1"-ish
      // garbage, batchIngested would deny the committed batch, and a
      // replay would duplicate its rows silently
      val gen = new java.io.File(dir).listFiles()
        .filter(_.getName.startsWith("gen-")).map(_.getPath).sorted.last
      val committed = new java.io.File(s"$gen/batches").listFiles().head
      assert(committed.getName == "000000-day1")
      assert(committed.renameTo(new java.io.File(s"$gen/batches/1000000-day1")))
      assert(st.ingested(dir, "day1"))
      intercept[IllegalStateException](st.append(dir, "day1"))
      // the wide-named batch still composes into reads
      assert(st.ids(dir) == st.served)
    }
}
