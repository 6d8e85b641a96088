package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

/** A minimal JSON writer: strings, numbers, booleans, sequences, and
  * already-rendered fragments. */
object Json {
  final case class Raw(s: String)
  def raw(s: String): Raw = Raw(s)

  def str(s: String): String = s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  }.mkString("\"", "", "\"")

  def value(v: Any): String = v match {
    case Raw(s) => s
    case s: String => str(s)
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => value(f.toDouble)
    case n @ (_: Int | _: Long) => n.toString
    case b: Boolean => b.toString
    case None | null => "null"
    case Some(x) => value(x)
    case m: Map[_, _] => m.toSeq.sortBy(_._1.toString).map { case (k, x) =>
      str(k.toString) + ": " + value(x) }.mkString("{", ", ", "}")
    case xs: Iterable[_] => xs.map(value).mkString("[", ", ", "]")
    case other => str(other.toString)
  }

  def obj(kv: (String, Any)*): String =
    kv.map { case (k, v) => str(k) + ": " + value(v) }.mkString("{", ", ", "}")
}

/** Files a run leaves in its output directory:
  *  - `<workload>-seed<n>-trace<0|1>.json`: stamp, both metric sets, and one
  *    record per op (name, pass, wall time, check, phase times, layers);
  *  - `trace-<workload>-seed<n>.json` (traced run): the spans and each op's
  *    self time per layer.
  */
object Results {
  private def opJson(r: Main.OpRecord): String = Json.obj(
    "op" -> r.op, "pass" -> r.pass, "name" -> r.name, "wall_s" -> r.wallS, "ok" -> r.ok,
    "items" -> r.items, "detail" -> r.detail, "live_heap_mb" -> r.liveHeapMb,
    "phases_s" -> r.phases.toMap, "layers" -> r.layers, "self_s" -> r.self)

  private def metricsJson(ms: Seq[(String, (Double, String))]): String =
    Json.obj(ms.map { case (k, (v, u)) => k -> Json.raw(Json.obj("value" -> v, "unit" -> u)) }: _*)

  private def resultFile(out: Path, workload: String, seed: Long, traced: Boolean): Path =
    out.resolve(s"$workload-seed$seed-trace${if (traced) 1 else 0}.json")

  def write(out: Path, workload: String, seed: Long, traced: Boolean, stamp: String,
      endToEnd: Seq[(String, (Double, String))], perLayer: Seq[(String, (Double, String))],
      warm: Seq[Main.OpRecord], ops: Seq[Main.OpRecord], overhead: Option[Double]): Unit = {
    Files.writeString(resultFile(out, workload, seed, traced), Json.obj(
      "stamp" -> Json.raw(stamp),
      "end_to_end" -> Json.raw(metricsJson(endToEnd)),
      "per_layer" -> Json.raw(if (traced) metricsJson(perLayer) else "null"),
      "tracing_overhead" -> overhead,
      "warmup" -> warm.map(r => Json.raw(opJson(r))),
      "ops" -> ops.map(r => Json.raw(opJson(r)))) + "\n")
  }

  /** The drop in ops/s from the untraced run of the same workload and seed,
    * as a share of the untraced figure, when that run's result is present. */
  def tracingOverhead(out: Path, workload: String, seed: Long, tracedOps: Double)
      : Option[Double] = {
    val f = resultFile(out, workload, seed, traced = false)
    if (!Files.exists(f)) None
    else scala.util.Try(new com.fasterxml.jackson.databind.ObjectMapper().readTree(f.toFile)
      .path("end_to_end").path("ops_per_s").path("value").asDouble(0.0)).toOption
      .filter(_ > 0).map(u => 1.0 - tracedOps / u)
  }

  def writeTrace(out: Path, workload: String, seed: Long, spans: Seq[Span],
      ops: Seq[Main.OpRecord], runStartUs: Long, overhead: Option[Double]): Unit = {
    val total = ops.flatMap(_.self).groupMapReduce(_._1)(_._2)(_ + _)
    val wall = ops.map(_.wallS).sum
    // accounting: the self times of an op must sum to its wall time
    val worst = if (ops.isEmpty) 0.0 else ops.map(r =>
      math.abs(r.self.values.sum - r.wallS) / math.max(r.wallS, 1e-9)).max
    val harness = if (wall > 0) total.getOrElse("harness", 0.0) / wall else 0.0
    // the root span (id 0): the workload, over the timed ops
    val opSpans = spans.filter(_.layer == "op")
    val root = Span(0, -1, 0, workload, "workload",
      opSpans.map(_.startUs).minOption.getOrElse(runStartUs),
      opSpans.map(_.endUs).maxOption.getOrElse(runStartUs))
    val spanJson = (root +: spans).map(s => Json.raw(Json.obj("id" -> s.id, "parent" -> s.parent,
      "op" -> s.op, "name" -> s.name, "layer" -> s.layer,
      "start_us" -> (s.startUs - runStartUs), "end_us" -> (s.endUs - runStartUs))))
    Files.writeString(out.resolve(s"trace-$workload-seed$seed.json"), Json.obj(
      "workload" -> workload, "seed" -> seed,
      "ops_wall_s" -> wall,
      "self_s" -> total,
      "self_share" -> total.map { case (k, v) => k -> (if (wall > 0) v / wall else 0.0) },
      "accounting_max_error" -> worst,
      "unattributed_share" -> harness,
      "tracing_overhead" -> overhead,
      "ops" -> ops.map(r => Json.raw(Json.obj("op" -> r.op, "name" -> r.name,
        "wall_s" -> r.wallS, "self_s" -> r.self))),
      "spans" -> spanJson) + "\n")
    System.err.println(f"[perfbench] trace: self times account for op wall time within " +
      f"${worst * 100}%.2f%%; harness (unattributed) share ${harness * 100}%.2f%%")
  }
}

/** Expected query fingerprints: `name<TAB>rows<TAB>hash` per line. */
object Expected {
  def load(p: Path): Map[String, Fingerprint.Print] =
    if (!Files.exists(p)) Map.empty
    else Files.readAllLines(p).asScala.map(_.trim).filter(l => l.nonEmpty && !l.startsWith("#"))
      .map { l =>
        val Array(n, rows, hash) = l.split("\t")
        n -> Fingerprint.Print(rows.toLong, hash)
      }.toMap

  /** Writes the expected fingerprints from a `graft.Verify` dump that
    * `tools/check.py` has passed against DuckDB: each query's fingerprint is
    * taken from its dumped rows, and the live query must produce the same.
    * {{{
    * perfbench.Expected --list
    * perfbench.Expected <data dir> <verify dump dir> <out file> <query>...
    * }}}
    */
  def main(args: Array[String]): Unit = {
    if (args.sameElements(Seq("--list"))) {
      println(Workloads.checkedQueries.mkString("\n"))
      return
    }
    val Array(dataDir, dumpDir, outFile, names @ _*) = args
    val spark = org.apache.spark.sql.SparkSession.builder()
      .withExtensions(new graft.GraftExtensions)
      .master(s"local[${Runtime.getRuntime.availableProcessors()}]")
      .config("spark.sql.shuffle.partitions", Runtime.getRuntime.availableProcessors())
      .config("spark.sql.adaptive.coalescePartitions.parallelismFirst", "false")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    var bad = 0
    val lines = names.sorted.map { n =>
      val dumped = Fingerprint.of(spark.read.parquet(s"$dumpDir/$n"))
      val live = Fingerprint.of(graft.SparkEntry.queries(n)(spark, dataDir))
      spark.catalog.clearCache()
      if (live != dumped) {
        bad += 1
        System.err.println(s"[expected] $n: live $live differs from the checked dump $dumped")
      }
      s"$n\t${dumped.rows}\t${dumped.hash}"
    }
    spark.stop()
    if (bad > 0) sys.exit(1)
    Files.writeString(Paths.get(outFile),
      "# query\trows\thash (perfbench.Fingerprint of the DuckDB-checked graft.Verify dump)\n" +
        lines.mkString("\n") + "\n")
  }
}
