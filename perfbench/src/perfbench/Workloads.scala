package perfbench

import java.nio.file.{Files, Path, Paths}
import java.util.Comparator

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Runs one phase of an op: times it and, in the traced run, tags the jobs
  * it starts with the op id and phase name. */
trait Phases {
  def apply[A](name: String)(f: => A): A
}

/** The outcome of one op. `counts` carries the op's own layer counts (for
  * ingest: observed items, retries, merge statistics). */
final case class Outcome(ok: Boolean, items: Long, detail: String,
    counts: Map[String, Double] = Map.empty)

trait Op {
  def name: String
  def run(spark: SparkSession, phase: Phases): Outcome
  /** Extra per-op detail for the traced run, taken after the op's span. */
  def traceCounts(): Map[String, Double] = Map.empty
  /** Releases what the op left behind; runs outside the op's span. */
  def cleanup(spark: SparkSession): Unit = ()
}

trait Workload {
  def name: String
  /** Set-up before the warm-up pass (e.g. the ingest base table). */
  def prepare(spark: SparkSession): Unit = ()
  /** The ops of pass `p` (p = 0 is the untimed warm-up pass). */
  def pass(p: Int): Seq[Op]
  /** The pass budget: a run of `--seconds S` times round(S / nominalPassS)
    * whole passes, at least one. It is set so that a run with S = 10 fits
    * the A/B protocol's time budget (README.md). */
  def nominalPassS: Double
  /** The input size, for the run stamp. */
  def inputSize: String
}

/** A registered query: build is the call `queries(n)(spark, dir)`, the
  * action is the fingerprint aggregate, and the check compares the
  * fingerprint with the expected one. */
final class QueryOp(val name: String, dataDir: String,
    expected: Option[Fingerprint.Print]) extends Op {
  def run(spark: SparkSession, phase: Phases): Outcome = {
    val df = phase("build")(graft.SparkEntry.queries(name)(spark, dataDir))
    val got = phase("action")(Fingerprint.of(df))
    expected match {
      case Some(e) if e == got => Outcome(ok = true, items = 1L, detail = got.toString)
      case Some(e) => Outcome(ok = false, items = 0L, detail = s"fingerprint $got, expected $e")
      case None => Outcome(ok = false, items = 0L, detail = s"no expected fingerprint ($got)")
    }
  }
  override def cleanup(spark: SparkSession): Unit = spark.catalog.clearCache()
}

final class QueryWorkload(val name: String, queries: Seq[String], dataDir: String,
    expected: Map[String, Fingerprint.Print], seed: Long, val nominalPassS: Double)
    extends Workload {
  private val rng = new scala.util.Random(seed)
  def pass(p: Int): Seq[Op] =
    rng.shuffle(queries).map(q => new QueryOp(q, dataDir, expected.get(q)))
  def inputSize: String =
    s"${queries.size} queries over ${Workloads.dirBytes(Paths.get(dataDir))} bytes of parquet"
}

/** One ingest batch, run end to end on a fresh copy of the base table. */
final class IngestOp(spec: IngestSpec, b: Int, baseDir: Path, workDir: Path) extends Op {
  val name = s"batch$b"
  private val opDir = workDir.resolve(s"op$b")
  private val table = opDir.resolve("table").toString
  private val errors = opDir.resolve("errors").toString
  private var done: org.apache.spark.sql.Dataset[graft.core.Tracked[Doc]] = _

  private val model = IngestModel.of(spec, b)

  def run(spark: SparkSession, phase: Phases): Outcome = {
    import spark.implicits._
    phase("prepare")(Workloads.copyTree(baseDir, Paths.get(table)))
    val retries = spark.sparkContext.longAccumulator(s"retries$b")
    val (observed, obs) = phase("core") {
      val built = IngestPipeline.stages(spec, retries)(
        graft.core.Pipeline.of(spec.batch(spark, b, spark.sparkContext.defaultParallelism)))
        .build()
      val (ds, obs) = graft.core.PipelineMetrics.observed(built)
      ds.persist().count()
      (ds, obs)
    }
    done = observed
    val m = obs.get
    def n(k: String) = Option(m.getOrElse(k, 0L)).map(_.toString.toLong).getOrElse(0L)
    val (items, failed, critical) = (n("n_items"), n("n_failed"), n("n_critical"))
    val stats = phase("merge") {
      val committed = observed.filter(!exists(col("errors"),
        e => e.getField("severity") === graft.core.StageError.Critical))
        .map(_.value).toDF()
      graft.operators.Merge.upsert(spark, table, committed, Seq("key"), Seq("day"))
    }
    phase("sink")(graft.core.PipelineMetrics.sinkErrors(observed, errors))
    val back = phase("readback") {
      spark.read.parquet(table)
        .agg(count(lit(1)), sum(when(col("batch") === b, 1L).otherwise(0L)))
        .collect().head
    }
    val rows = back.getLong(0)
    val inBatch = back.getLong(1)
    val committedN = items - critical
    val got = IngestModel(items, failed, critical, retries.value, committedN, rows)
    val ok = got == model && inBatch == model.committed
    Outcome(ok, if (ok) committedN else 0L,
      if (ok) s"$got" else s"got $got with $inBatch rows of batch $b, model $model",
      Map("core.items" -> items.toDouble, "core.items_failed" -> failed.toDouble,
        "core.items_critical" -> critical.toDouble,
        "core.retry_attempts" -> retries.value.toDouble,
        "merge.rows_written" -> stats.rowsWritten.toDouble,
        "merge.rows_in" -> committedN.toDouble,
        "merge.partitions_touched" -> stats.partitionsTouched.toDouble))
  }

  override def traceCounts(): Map[String, Double] =
    if (done == null) Map.empty
    else graft.core.PipelineMetrics.timingSummary(done).collect()
      .map(r => s"core.stage_s.${r.getString(0)}" -> r.getDouble(2)).toMap

  override def cleanup(spark: SparkSession): Unit = {
    if (done != null) done.unpersist()
    Workloads.rmTree(opDir)
  }
}

final class IngestWorkload(seed: Long, workDir: Path) extends Workload {
  val name = "ingest_upsert"
  private val spec = IngestSpec(seed)
  private val baseDir = workDir.resolve("base")
  private var nextBatch = 0
  override def prepare(spark: SparkSession): Unit =
    spec.base(spark).write.partitionBy("day").parquet(baseDir.toString)
  /** Every pass, the warm-up pass too, is one batch. */
  def pass(p: Int): Seq[Op] = {
    nextBatch += 1
    Seq(new IngestOp(spec, nextBatch, baseDir, workDir))
  }
  val nominalPassS = 5.0
  def inputSize: String =
    s"${spec.batchSize} documents per batch into a ${spec.baseRows}-row table"
}

object Workloads {
  /** `relational_mix`: every eighth `q` query by name, from the sixth (it
    * holds q44, all of whose build jobs are schema inference) — see
    * README.md. */
  def relational: Seq[String] = {
    val qs = graft.SparkEntry.queries.keys.filter(_.startsWith("q")).toSeq.sorted
    qs.indices.filter(_ % 8 == 5).map(qs)
  }

  /** `dedup_graph`: the three pair finders of the d07/d30/d31 question and
    * one fixpoint operator — see README.md. */
  val dedupGraph: Seq[String] = Seq("d07_jaccard_pairs", "d30_leakage_guard",
    "d31_fuzzy_pairs", "g09_shortest_paths")

  /** The queries with committed expected fingerprints: every `q` query and
    * the fourteen pair finders and fixpoint operators of the dedup/graph
    * family, a superset of what the two query workloads run. */
  def checkedQueries: Seq[String] =
    graft.SparkEntry.queries.keys.filter(_.startsWith("q")).toSeq.sorted ++
      Seq("d07_jaccard_pairs", "d30_leakage_guard", "d31_fuzzy_pairs",
        "d34_containment_pairs", "d47_ppjoin_pairs", "d57_editdist_dedup",
        "er01_entity_match", "g02_pagerank", "g03_reachability", "g05_communities",
        "g08_incremental_reachable", "g09_shortest_paths", "d18_dup_clusters",
        "d45_incremental_clusters")

  def names: Seq[String] = Seq("relational_mix", "dedup_graph", "ingest_upsert")

  def apply(name: String, seed: Long, dataDir: String,
      expected: Map[String, Fingerprint.Print], workDir: Path): Workload = name match {
    case "relational_mix" => new QueryWorkload(name, relational, dataDir, expected, seed, 5.0)
    case "dedup_graph" => new QueryWorkload(name, dedupGraph, dataDir, expected, seed, 10.0)
    case "ingest_upsert" => new IngestWorkload(seed, workDir)
    case other => throw new IllegalArgumentException(
      s"unknown workload '$other' (one of ${names.mkString(", ")})")
  }

  def dirBytes(p: Path): Long = {
    val s = Files.walk(p)
    try s.filter(Files.isRegularFile(_)).mapToLong(Files.size(_)).sum()
    finally s.close()
  }

  def copyTree(from: Path, to: Path): Unit = {
    val s = Files.walk(from)
    try s.forEach { src =>
      val dst = to.resolve(from.relativize(src).toString)
      if (Files.isDirectory(src)) Files.createDirectories(dst) else Files.copy(src, dst)
    } finally s.close()
  }

  def rmTree(p: Path): Unit = if (Files.exists(p)) {
    val s = Files.walk(p)
    try s.sorted(Comparator.reverseOrder[Path]()).forEach(f => Files.delete(f))
    finally s.close()
  }
}
