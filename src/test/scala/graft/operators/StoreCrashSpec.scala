package graft.operators

/** [[CrashSpec]] over the generation-structured stores and versioned
  * snapshots: [[Generations.publish]], a [[Generations.Store]] append
  * (and [[ClosureStore.advance]] through it) and [[Snapshot.publish]]. */
class StoreCrashSpec extends CrashSpec {
  import spark.implicits._

  private def rows(ids: Long*) = ids.toDF("id")

  private def ids(dirs: Seq[String]): Set[Long] =
    if (dirs.isEmpty) Set.empty
    else spark.read.parquet(dirs: _*).as[Long].collect().toSet

  test("crash: Generations.publish serves the old generation or the new one, stamped") {
    val fixture = tmpDir("graft-crash-gen")
    val parts = (g: String) => Seq(s"$g/a")
    Generations.publish(spark, fixture, parts)(s => rows(1L, 2L).write.parquet(s"$s/a"))
    val live = (p: String) => {
      val g = Generations.current(spark, p, "test store")
      ArtifactStamp.verifyAligned(spark, "test store", parts(g))
      Map("a" -> ids(Seq(s"$g/a")))
    }
    val calls = everyCrash(fixture, live) { p =>
      Generations.publish(spark, p, parts)(s => rows(3L).write.parquet(s"$s/a"))
    }
    // the new generation is staged beside its target, so the target's
    // parent exists: the commit makes no directory of its own
    assert(calls.nonEmpty && !calls.exists(_.contains("mkdirs")), calls)
  }

  test("crash: Generations.commitBatch shows the whole batch or none of it") {
    val fixture = tmpDir("graft-crash-batch")
    val store = Generations.Store("test store", Seq("a"), appended = Seq("a"))
    store.rebuild(spark, fixture)(s => rows().write.parquet(s"$s/a"))
    val composed = (p: String) => Map("a" ->
      store.read(spark, store.current(spark, p), "a").as[Long].collect().toSet)
    everyCrash(fixture, composed) { p =>
      if (!store.batchIngested(spark, p, "b1"))
        store.append(spark, p, "b1")(_ => s => rows(7L, 8L).write.parquet(s"$s/a"))
    }
  }

  test("crash: ClosureStore.advance commits its batch whole; a replay probe skips or redoes it") {
    val chunk = "a b c d e f g h"
    val fixture = tmpDir("graft-crash-closure")
    ClosureStore.build(Seq((1L, chunk), (2L, "p q r s t u v w")).toDF("doc_id", "text"),
      Seq(1L).toDF("doc_id"), fixture)
    val closure = (p: String) => Map("closure" ->
      ClosureStore.storedClosure(spark, p).select("node").as[Long].collect().toSet)
    everyCrash(fixture, closure) { p =>
      if (!ClosureStore.batchIngested(spark, p, "day1"))
        ClosureStore.advance(Seq((3L, chunk)).toDF("doc_id", "text"),
          Seq.empty[Long].toDF("doc_id"), p, "day1")
    }
  }

  test("crash: Snapshot.publish serves the previous version or the new one") {
    val fixture = tmpDir("graft-crash-snap")
    Snapshot.publish(rows(1L), fixture)
    val latest = (p: String) =>
      Map("latest" -> ids(Seq(s"$p/v=${Snapshot.versions(spark, p).last}")))
    everyCrash(fixture, latest)(p => Snapshot.publish(rows(2L), p))
  }
}
