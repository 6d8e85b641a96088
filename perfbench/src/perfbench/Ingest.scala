package perfbench

import scala.util.hashing.MurmurHash3

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}

import graft.core._

/** One generated document. `day` is the table's partition column and a
  * stable function of the key, as `Merge.upsert` requires. */
final case class Doc(key: Long, day: Int, text: String, tokens: Int, sig: Long,
    score: Double, batch: Int)

/** Retryable failure that the `score` stage raises once per chosen record. */
final class TransientError(msg: String) extends RuntimeException(msg)

/** The ingest workload's inputs and its injection rule, all derived from the
  * run's seed. Each document draws three independent uniforms that decide
  * whether `normalize` raises a soft error, `tokenize` a critical error, and
  * `score` a retryable error that succeeds on the second attempt.
  */
final case class IngestSpec(seed: Long) {
  private val rng = new scala.util.Random(seed ^ 0x5eed1e57L)
  val batchSize: Int = 8000
  /** A power of two, so that `oldKey` is a bijection. */
  val baseRows: Int = 32768
  val days: Int = 8
  val pSoft: Double = 0.03 + 0.05 * rng.nextDouble()
  val pCritical: Double = 0.02 + 0.04 * rng.nextDouble()
  val pRetry: Double = 0.05 + 0.10 * rng.nextDouble()
  val existingShare: Double = 0.2 + 0.3 * rng.nextDouble()
  /** MinHash permutations per document: the per-record text work. */
  val hashes: Int = 3584
  private val mult = (rng.nextInt(baseRows / 2) * 2 + 1).toLong
  private val offset = rng.nextInt(baseRows).toLong

  def dayOf(key: Long): Int = (key % days).toInt
  val existing: Int = math.round(batchSize * existingShare).toInt

  /** The key of document `i` of batch `b`: the first `existing` documents
    * update distinct base keys, the rest insert keys new to the batch. */
  def key(b: Int, i: Int): Long =
    if (i < existing) (mult * i + offset) % baseRows
    else baseRows.toLong + b.toLong * batchSize + i

  /** Uniform in [0, 1) for (batch, key, salt); the same in the model and in
    * the stages that inject the errors. */
  def draw(batch: Int, key: Long, salt: Int): Double = {
    val h = MurmurHash3.orderedHash(Seq(seed, batch, key, salt))
    (h.toLong & 0xffffffffL).toDouble / 4294967296.0
  }
  def soft(b: Int, k: Long): Boolean = draw(b, k, 1) < pSoft
  def critical(b: Int, k: Long): Boolean = draw(b, k, 2) < pCritical
  def retry(b: Int, k: Long): Boolean = draw(b, k, 3) < pRetry

  @transient private lazy val vocab: Array[String] = {
    val r = new scala.util.Random(seed)
    Array.fill(4000)(Iterator.continually(('a' + r.nextInt(26)).toChar)
      .take(3 + r.nextInt(7)).mkString)
  }

  /** Document `i` of batch `b`, with text of seeded length (20 to 300
    * words, some upper-cased, double-spaced for `normalize` to fix). */
  def doc(b: Int, i: Int): Doc = {
    val k = key(b, i)
    val r = new scala.util.Random(MurmurHash3.orderedHash(Seq(seed, b, k)))
    val text = Iterator.fill(20 + r.nextInt(280))(vocab(r.nextInt(vocab.length)))
      .map(w => if (r.nextInt(10) == 0) w.toUpperCase else w).mkString("  ")
    Doc(k, dayOf(k), text, 0, 0L, 0.0, b)
  }

  /** Batch `b`, generated on the executors. */
  def batch(spark: SparkSession, b: Int, partitions: Int): Dataset[Doc] = {
    import spark.implicits._
    val spec = this
    spark.range(0, batchSize, 1, partitions).map(i => spec.doc(b, i.toInt))
  }

  def base(spark: SparkSession): DataFrame = {
    import spark.implicits._
    (0L until baseRows.toLong).map(k => Doc(k, dayOf(k), s"base $k", 2, 0L, 0.0, 0))
      .toDS().toDF()
  }
}

/** The plain-Scala model of one batch: what `PipelineMetrics.observed` must
  * count and what the table must hold after the upsert. */
final case class IngestModel(items: Long, failed: Long, critical: Long,
    retries: Long, committed: Long, tableRows: Long)

object IngestModel {
  def of(spec: IngestSpec, b: Int): IngestModel = {
    val keys = (0 until spec.batchSize).map(spec.key(b, _))
    val crit = keys.count(spec.critical(b, _))
    val failed = keys.count(k => spec.soft(b, k) || spec.critical(b, k))
    // a critical error in `tokenize` skips `score`, so no retry happens
    val retries = keys.count(k => spec.retry(b, k) && !spec.critical(b, k))
    val newKeys = keys.count(k => k >= spec.baseRows && !spec.critical(b, k))
    IngestModel(keys.size.toLong, failed.toLong, crit.toLong, retries.toLong,
      (keys.size - crit).toLong, spec.baseRows.toLong + newKeys)
  }
}

/** The typed pipeline the ingest op runs: three record stages and one
  * batch stage. */
object IngestPipeline {
  def stages(spec: IngestSpec, retries: org.apache.spark.util.LongAccumulator)
      : Pipeline[Doc] => Pipeline[Doc] = { p =>
    val normalize = TypedStage[Doc]("normalize") { d =>
      if (spec.soft(d.batch, d.key)) throw new SoftError(s"soft error on ${d.key}")
      d.copy(text = d.text.toLowerCase.split("\\s+").filter(_.nonEmpty).mkString(" "))
    }
    val tokenize = TypedStage[Doc]("tokenize") { d =>
      if (spec.critical(d.batch, d.key))
        throw new IllegalStateException(s"critical error on ${d.key}")
      val words = d.text.split(' ')
      // MinHash over word 3-shingles: the signature's first slot
      val mins = Array.fill(spec.hashes)(Int.MaxValue)
      var i = 0
      while (i + 2 < words.length) {
        val sh = MurmurHash3.stringHash(words(i) + " " + words(i + 1) + " " + words(i + 2))
        var j = 0
        while (j < spec.hashes) {
          val h = MurmurHash3.mix(sh, j * 0x9e3779b9)
          if (h < mins(j)) mins(j) = h
          j += 1
        }
        i += 1
      }
      d.copy(tokens = words.length, sig = mins.foldLeft(17L)((a, m) => a * 31L + m))
    }
    val score = new TypedStage[Doc] {
      val name = "score"
      private val seen = scala.collection.mutable.HashSet.empty[Long]
      def process(d: Doc): Doc = {
        if (spec.retry(d.batch, d.key) && seen.add(d.key)) {
          retries.add(1L)
          throw new TransientError(s"transient error on ${d.key}")
        }
        d.copy(score = (d.sig & 0xffffL).toDouble / 65535.0)
      }
    }
    val embed = TypedBatchStage[Doc]("embed_batch", 100) { ds =>
      ds.map(d => d.copy(score = d.score * math.log1p(d.tokens.toDouble)))
    }
    p.append(normalize)
      .append(tokenize)
      .append(score, StageOpts(retry = Retry(Seq(classOf[TransientError]), maxRetries = 2)))
      .appendBatch(embed)
  }
}
