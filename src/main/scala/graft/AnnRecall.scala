package graft

import graft.operators.Similarity
import org.apache.spark.sql.functions._

/** Dev tool: measured recall@k of an ANN path against the brute-force truth
  * on a testdata dir — the number the e05/e09 property oracles (and PqBaselineSpec) gate on.
  * Property bars need margin across session shapes (KMeans init sampling
  * depends on input partitioning), so run this under several
  * SPARK_GRAFT_CPUS values before pinning query parameters.
  *
  * Usage: runMain graft.AnnRecall <ivf|pq|ivfpq> <sfDir> [key=value ...]
  * Keys: k nCentroids nProbe m ks refine (defaults match the bench queries).
  */
object AnnRecall {
  def main(args: Array[String]): Unit = {
    val op = args(0)
    val sfDir = args(1)
    val kv = args.drop(2).map { a =>
      val Array(k, v) = a.split("=", 2); k -> v.toInt
    }.toMap
    def p(name: String, dflt: Int) = kv.getOrElse(name, dflt)
    val k = p("k", 3)
    val cpus = Session.cores
    val spark = Session(cpus)
    val emb = Tables.table(spark, sfDir, "embeddings")
    val qs = emb.filter(col("vec_id") < 50)
    val ann = op match {
      case "ivf" => Similarity.ivfTopK(emb, qs, k = k,
        nCentroids = p("nCentroids", 16), nProbe = p("nProbe", 4))
      case "pq" => Similarity.pqTopK(emb, qs, k = k,
        m = p("m", 8), ks = p("ks", 32), refine = p("refine", 8))
      case "ivfpq" => Similarity.ivfPqTopK(emb, qs, k = k,
        nCentroids = p("nCentroids", 16), nProbe = p("nProbe", 4),
        m = p("m", 8), ks = p("ks", 32), refine = p("refine", 8),
        residual = p("residual", 1) == 1)
      case "lsh" => Similarity.lshTopK(emb, qs, k = k,
        planes = p("planes", 8), tables = p("tables", 1),
        portableHash = true, multiProbe = p("multiProbe", 1) == 1,
        probeBudget = p("probeBudget", 0))
      case other => sys.error(s"unknown op '$other' (ivf|pq|ivfpq|lsh)")
    }
    val truth = Similarity.bruteForceTopK(emb, qs, k = k)
    val hits = ann.select("q_id", "neighbor_id")
      .join(truth.select("q_id", "neighbor_id"), Seq("q_id", "neighbor_id"))
      .count()
    val n = truth.count()
    println(f"[annrecall] $op $sfDir cpus=$cpus params=$kv " +
      f"recall@$k = ${hits.toDouble / n}%.3f ($hits/$n)")
    spark.stop()
  }
}
