package graft.operators

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Multimodal column plumbing: image/audio/video ride as opaque `BINARY`
  * columns with a typed metadata struct; decode / feature-extraction runs
  * batched per partition so codec state is reused (the Scala analog of an
  * Arrow-batched Pandas UDF).
  *
  * The actual codecs are STUBBED (deterministic fakes) — this container has
  * no image/audio libraries — but everything Spark-side is real and tested:
  * schema, partition-batched execution shape, null handling, and metadata
  * propagation. Swapping `StubCodec` for a real decoder is a one-function
  * change.
  */
object Multimodal {

  val mediaMetaSchema: StructType = StructType(Seq(
    StructField("mime", StringType),
    StructField("width", IntegerType),
    StructField("height", IntegerType),
    StructField("n_bytes", LongType)))

  /** Attach a binary media column + metadata struct from any binary source
    * column (e.g. `binaryFile`'s `content`). */
  def withMediaMeta(df: DataFrame, binCol: String, mime: String): DataFrame =
    df.withColumn("media_meta", struct(
      lit(mime).as("mime"),
      lit(null).cast(IntegerType).as("width"),
      lit(null).cast(IntegerType).as("height"),
      length(col(binCol)).cast(LongType).as("n_bytes")))

  /** STUB codec: deterministic pseudo-decode. A real implementation calls
    * the native decoder here — once per partition setup, batched records. */
  object StubCodec {
    /** "Decode" → fixed-size feature vector derived from content bytes.
      * Deterministic: same bytes → same features. Accumulates in double and
      * casts to float once at the end, so an external oracle can replay the
      * value exactly (a left fold of byte/255.0 per residue class). */
    def features(bytes: Array[Byte], dim: Int): Array[Float] = {
      val acc = new Array[Double](dim)
      if (bytes != null && bytes.nonEmpty) {
        var i = 0
        while (i < bytes.length) {
          acc(i % dim) = acc(i % dim) + (bytes(i) & 0xff) / 255.0
          i += 1
        }
      }
      acc.map(_.toFloat)
    }
    /** "Resize": stub keeps a deterministic prefix (real impl: scaler). */
    def resize(bytes: Array[Byte], maxBytes: Int): Array[Byte] =
      if (bytes == null) null else bytes.take(maxBytes)
  }

  /** Batched feature extraction over a binary column: partition-at-a-time
    * (decoder init amortized per partition), preserving all input columns
    * and appending `features ARRAY<FLOAT>`. */
  def extractFeatures(df: DataFrame, binCol: String, dim: Int = 16): DataFrame = {
    val schema = df.schema.add("features", ArrayType(FloatType))
    val binIdx = df.schema.fieldIndex(binCol)
    val enc = org.apache.spark.sql.Encoders.row(schema)
    df.mapPartitions { rows =>
      // per-partition decoder setup would go here (reference on_start analog)
      rows.map { r =>
        val bytes = r.get(binIdx).asInstanceOf[Array[Byte]]
        Row.fromSeq(r.toSeq :+ StubCodec.features(bytes, dim).toSeq)
      }
    }(enc)
  }

  /** Batched "resize"/truncate of binary payloads, appended as a new column. */
  def resizeMedia(df: DataFrame, binCol: String, maxBytes: Int): DataFrame = {
    val schema = df.schema.add("resized", BinaryType)
    val binIdx = df.schema.fieldIndex(binCol)
    val enc = org.apache.spark.sql.Encoders.row(schema)
    df.mapPartitions { rows =>
      rows.map { r =>
        val bytes = r.get(binIdx).asInstanceOf[Array[Byte]]
        Row.fromSeq(r.toSeq :+ StubCodec.resize(bytes, maxBytes))
      }
    }(enc)
  }

  /** Frame-sampling stub shape: one row per sampled "frame" index — the
    * explode pattern a video pipeline uses (real impl: codec frame seek). */
  def sampleFrames(df: DataFrame, binCol: String, everyNBytes: Int): DataFrame =
    df.withColumn("frame_idx",
      explode(sequence(lit(0),
        greatest(floor(length(col(binCol)) / everyNBytes) - 1, lit(0)))))
      .withColumn("frame_offset", col("frame_idx") * everyNBytes)

  /** Audio-style silence trimming: one "frame" per `frameBytes` of payload,
    * per-frame energy (stub: the byte-code sum — the slot a real pipeline
    * fills with RMS over decoded samples), frames under `minEnergy`
    * dropped, per-media keep stats returned. Scan-local end to end: the
    * frame explode, energy fold, and trim predicate all evaluate in the
    * scan stage; the only shuffle is the final per-media regroup. */
  def silenceTrim(
      media: DataFrame,
      idCol: String = "doc_id",
      binCol: String = "media",
      frameBytes: Int = 32,
      minEnergy: Long = 0L
  ): DataFrame = {
    val frames = sampleFrames(media.select(col(idCol).as("sid"), col(binCol)),
      binCol, frameBytes)
    frames
      // stage the decoded frame as a row-level column: referencing an
      // ATTRIBUTE inside the fold lambda evaluates the decode once per
      // frame — inlining the expression would re-decode per character
      // (the HOF re-evaluation trap, README "Expression hygiene")
      .withColumn("f", decode(col(binCol).substr(
        col("frame_offset").cast("int") + 1, lit(frameBytes)), "UTF-8"))
      .withColumn("energy",
        aggregate(transform(sequence(lit(1), length(col("f"))),
          i => ascii(col("f").substr(i, lit(1)))),
          lit(0L), (a, x) => a + x))
      .groupBy(col("sid").as(idCol))
      .agg(count(lit(1)).as("n_frames"),
        count(when(col("energy") >= minEnergy, 1)).as("n_kept"))
  }

  /** Video scene-cut detection: one "frame" per `frameBytes` of payload
    * ([[sampleFrames]]' offsets), per-frame energy (stub: the byte-code
    * sum — the slot a real pipeline fills with a perceptual frame feature
    * from the decoded pixels), and a CUT reported wherever the energy
    * jumps by more than `minDelta` against the PREVIOUS frame — the
    * shot-boundary heuristic every keyframe-selection pipeline starts
    * from. Frame explode and energy fold are scan-local; the only shuffle
    * is the per-media window sort (bounded per media by payload size /
    * frameBytes — media are bounded, so no skew hatch is needed where
    * d26-style text grams do need one).
    *
    * @return one row per cut: (idCol, cut_offset = offset of the frame
    *         AFTER the cut, delta = signed energy jump) */
  def sceneCuts(
      media: DataFrame,
      idCol: String = "doc_id",
      binCol: String = "media",
      frameBytes: Int = 32,
      minDelta: Long = 0L
  ): DataFrame = {
    val frames = sampleFrames(media.select(col(idCol).as("sid"), col(binCol)),
      binCol, frameBytes)
    val w = Window.partitionBy(col("sid")).orderBy(col("frame_offset"))
    frames
      // attribute-staged decode: same expression-hygiene pattern as
      // silenceTrim (inlining would re-decode per character)
      .withColumn("f", decode(col(binCol).substr(
        col("frame_offset").cast("int") + 1, lit(frameBytes)), "UTF-8"))
      .withColumn("energy",
        aggregate(transform(sequence(lit(1), length(col("f"))),
          i => ascii(col("f").substr(i, lit(1)))),
          lit(0L), (a, x) => a + x))
      .withColumn("prev_energy", lag(col("energy"), 1).over(w))
      .filter(col("prev_energy").isNotNull &&
        abs(col("energy") - col("prev_energy")) > minDelta)
      .select(col("sid").as(idCol),
        col("frame_offset").as("cut_offset"),
        (col("energy") - col("prev_energy")).as("delta"))
  }

  /** Video near-duplicate pairs by keyframe fingerprinting: one "keyframe"
    * per `frameBytes` of payload ([[sampleFrames]]' offsets), each
    * fingerprinted from its bytes (stub: the native PolyHash rolling hash —
    * the slot a real pipeline fills with a perceptual hash, same
    * substitution point as [[StubCodec]]). Pairs of media sharing at least
    * `minShared` DISTINCT fingerprints are reported with the shared count.
    *
    * Scale shape (same as Dedup.jaccardPairs): fingerprints are scan-local;
    * ONE shuffle groups by fingerprint and ordered pairs are emitted locally
    * from each fingerprint's sorted id list, so the quadratic step is
    * bounded by `maxDocFreq`²/2 per fingerprint — a "black frame" shared by
    * millions of videos caps out (producing no candidates — conservative)
    * instead of exploding the pair join. Ids must be integral (the pair
    * fan-out is the `ordered_pairs_gen` generator over ARRAY<BIGINT>). */
  def keyframeDedup(
      media: DataFrame,
      idCol: String = "doc_id",
      binCol: String = "media",
      frameBytes: Int = 32,
      minShared: Int = 2,
      maxDocFreq: Int = 50
  ): DataFrame = {
    // loud guard, not a silent cast: a StringType id would cast to null
    // and vanish from collect_set, shrinking the pair set with no error
    Dedup.requireIntegralId(media, idCol, "keyframeDedup")
    val frames = sampleFrames(
      media.select(col(idCol).cast("long").as("kid"), col(binCol)),
      binCol, frameBytes)
    val fps = frames.select(col("kid"),
      graft.expressions.PolyHash(concat(lit("kf|"),
        decode(col(binCol).substr(col("frame_offset").cast("int") + 1,
          lit(frameBytes)), "UTF-8"))).as("fp"))
    val byFp = fps.groupBy("fp")
      .agg(sort_array(collect_set(col("kid"))).as("ds"))
      .filter(size(col("ds")) <= maxDocFreq)
    byFp.select(graft.expressions.OrderedPairsGen(col("ds")))
      .groupBy(col("a").as("a_id"), col("b").as("b_id"))
      .agg(count(lit(1)).as("n_shared"))
      .filter(col("n_shared") >= minShared)
  }
}
