package bench

import java.io.File

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Seeded document corpus with planted near-duplicate clusters — the
  * ScaleBench.genDocuments design with the seed mixed into every hash.
  * Each doc is 50 tokens from a 40-word vocabulary. The first
  * `4 * clusters` ids form clusters of four that share one body; members
  * 1-3 append a variant token (shingle Jaccard 0.96-0.98, far above any
  * verify threshold). All other docs are independent draws (Jaccard
  * near 0.02). So a near-dup dedup keeps `n - 3 * clusters` docs, and
  * the planted pairs are the six pairs inside each cluster.
  */
final class DocGen(seed: Long, val n: Long) {
  val clusters: Long = n / 40
  val survivors: Long = n - 3 * clusters
  /** Ids deleted from the stream index: about 1 %, seed-shifted. */
  val deleteOffset: Long = Math.floorMod(Mix.long(seed, 3), 100L)
  val deleted: Long = Mix.residueCount(n, 100L, Math.floorMod(-deleteOffset, 100L))

  def frame(spark: SparkSession, parts: Int): DataFrame = {
    val vocab = array(DocGen.Vocab.map(lit): _*)
    val clustered = col("doc_id") < lit(4 * clusters)
    val base = when(clustered, col("doc_id") - pmod(col("doc_id"), lit(4L))).otherwise(col("doc_id"))
    val variant = pmod(col("doc_id"), lit(4L))
    val body = array_join(transform(sequence(lit(0), lit(49)), i =>
      element_at(vocab, pmod(xxhash64(lit(seed), base, i), lit(DocGen.Vocab.size.toLong)).cast("int") + 1)), " ")
    spark.range(0, n, 1, parts).toDF("doc_id")
      .select(col("doc_id"),
        when(clustered && variant > 0, concat(body, lit(" uvar"), variant.cast("string")))
          .otherwise(body).as("text"))
  }

  /** The six (id_a < id_b) pairs inside each planted cluster. */
  def plantedPairs(spark: SparkSession): DataFrame =
    spark.range(0, clusters).select((col("id") * 4).as("b"))
      .select(explode(array(
        Seq((0, 1), (0, 2), (0, 3), (1, 2), (1, 3), (2, 3)).map { case (a, b) =>
          struct((col("b") + a).as("id_a"), (col("b") + b).as("id_b"))
        }: _*)).as("p"))
      .select(col("p.id_a"), col("p.id_b"))

  def deletedIds(spark: SparkSession): DataFrame =
    spark.range(0, n).toDF().where(pmod(col("id") + lit(deleteOffset), lit(100L)) === 0)

  /** Stage the corpus as `shards` single-file parquet shards (doc_id mod
    * shards, so every cluster spans several shards) in `dir`, with
    * strictly increasing modification times, so a file stream with one
    * file per trigger delivers them in shard order. */
  def writeShards(spark: SparkSession, dir: String, shards: Int): Unit = {
    val staging = dir + "_staging"
    frame(spark, shards)
      .withColumn("shard", pmod(col("doc_id"), lit(shards.toLong)))
      .repartition(shards, col("shard"))
      .write.mode("overwrite").partitionBy("shard").parquet(staging)
    val out = new File(dir)
    Disk.deleteRecursively(out)
    out.mkdirs()
    val t0 = System.currentTimeMillis() - 1000L * shards
    for (k <- 0 until shards) {
      val parts = new File(staging, s"shard=$k").listFiles()
        .filter(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
      require(parts.length == 1, s"shard $k staged as ${parts.length} files")
      val target = new File(out, f"shard-$k%03d.parquet")
      require(parts.head.renameTo(target), s"cannot move shard $k")
      target.setLastModified(t0 + 1000L * k)
    }
    Disk.deleteRecursively(new File(staging))
  }
}

object DocGen {
  val Vocab: Seq[String] = Seq(
    "flight", "delay", "gate", "crew", "fuel", "cargo", "route", "hub",
    "slot", "wing", "cabin", "seat", "radar", "tower", "taxi", "runway",
    "board", "pilot", "jet", "cloud", "storm", "wind", "climb", "cruise",
    "land", "depart", "arrive", "ticket", "fare", "bag", "check", "security",
    "lounge", "terminal", "apron", "hangar", "engine", "rudder", "flap", "nose")
}
