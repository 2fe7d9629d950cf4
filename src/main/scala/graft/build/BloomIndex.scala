package graft.build

import graft.query.{Eq, PruneReport, PrunedScanner}
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Encoder, Encoders, SaveMode, SparkSession}
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions._
import org.apache.spark.util.sketch.BloomFilter

/** Per-file bloom-filter skipping index — an EXTENSION beyond the
  * reference (which only ships the value→byte-range postings index):
  * for high-cardinality columns, enumerating every distinct value in a
  * postings table costs O(distinct values × files), while a bloom
  * filter answers the only question EQ pruning needs — "might this
  * file contain the value?" — in a few KB per file regardless of
  * cardinality. This is the modern lakehouse data-skipping shape
  * (Parquet bloom filters / Delta-style file skipping), rebuilt on the
  * same freshness machinery as the sparse index.
  *
  * This object builds, maintains and serves the sketches
  * ([[liveSketches]]); the pruning decision itself is the one
  * `PrunedScanner.decide`, where the bloom proof (a live sketch negative
  * for an EQ leaf, folded through AND/OR) and the postings proof each
  * exclude files, with one report per decision. Soundness is the bloom
  * contract itself: no false negatives, so a pruned file provably
  * contains no matching row; false positives only cost extra reads.
  * Stale files (descriptor fingerprint mismatch) fall back to a full
  * scan exactly like the postings index.
  *
  * Layout:
  * {{{
  * bloomRoot/blooms/part-*.parquet       (file, column, bloom, gen)
  * bloomRoot/descriptors/part-*.parquet  IndexBuilder.DescriptorRow
  * }}}
  *
  * Build = ONE pass over the data: explode (column, value) pairs,
  * aggregate a bloom per (file, column) with [[BloomAgg]] (map-side
  * partials merge with `mergeInPlace`, so the shuffle carries one
  * sketch per partition, not per row).
  */
object BloomIndex {

  /** ~100k expected items x 3% fpp ≈ 90 KB per (file, column) sketch. */
  val DefaultExpectedItems: Long = 100000L
  val DefaultFpp: Double = 0.03

  final case class BloomRow(file: String, column: String, bloom: Array[Byte], gen: Long)

  def bloomsDir(root: String): String = s"$root/blooms"

  /** Serializable bloom-building UDAF over stringified values. */
  final case class BloomAgg(expectedItems: Long, fpp: Double)
      extends Aggregator[String, BloomFilter, Array[Byte]] {
    override def zero: BloomFilter = BloomFilter.create(expectedItems, fpp)
    override def reduce(b: BloomFilter, v: String): BloomFilter = {
      if (v != null) b.putString(v); b
    }
    override def merge(a: BloomFilter, b: BloomFilter): BloomFilter = {
      a.mergeInPlace(b); a
    }
    override def finish(b: BloomFilter): Array[Byte] = {
      val bos = new java.io.ByteArrayOutputStream()
      b.writeTo(bos)
      bos.toByteArray
    }
    override def bufferEncoder: Encoder[BloomFilter] = Encoders.kryo[BloomFilter]
    override def outputEncoder: Encoder[Array[Byte]] = Encoders.BINARY
  }

  /** Build (or refresh) blooms for `columns` over the dataset.
    * INCREMENTAL like the postings index (`IndexBuilder.refreshStale`):
    * only files with no fresh descriptor are read (a daily one-file
    * append costs one file's scan, not the corpus), their bloom rows are
    * APPENDED gen-stamped, and [[liveSketches]]' gen filter makes
    * superseded rows inert. `overwrite` forces a full rebuild. */
  def build(
      spark: SparkSession,
      dataDir: String,
      columns: Seq[String],
      bloomRoot: String,
      expectedItems: Long = DefaultExpectedItems,
      fpp: Double = DefaultFpp,
      overwrite: Boolean = false,
      withChecksums: Boolean = false): Unit = {
    require(columns.nonEmpty)
    IndexBuilder.refreshStale(spark, dataDir, columns, bloomRoot,
      graft.model.IndexType.BloomParquet, overwrite, withChecksums) { (stale, mode) =>
      import spark.implicits._
      val kvs = array(columns.map(c =>
        struct(lit(c).as("column"), col(c).cast("string").as("value"))): _*)
      val canonical = IndexBuilder.canonicalizeExpr(spark, stale.head)
      val bloomAgg = udaf(BloomAgg(expectedItems, fpp))
      val gens = spark.createDataset(stale)
        .select(col("path").as("file"), col("modificationTime").as("gen"))
      spark.read.parquet(stale.map(_.path): _*)
        .select(explode(kvs).as("kv"),
          canonical(col("_metadata.file_path")).as("file"))
        .select(col("file"), col("kv.column").as("column"), col("kv.value").as("value"))
        .groupBy("file", "column")
        .agg(bloomAgg(col("value")).as("bloom"))
        .join(broadcast(gens), "file")
        .write.mode(mode)
        .parquet(bloomsDir(bloomRoot))
    }
  }

  /** Drop bloom rows for deleted files and superseded generations and
    * rewrite — the maintenance twin of `IndexBuilder.compact` (the
    * append-only build otherwise accumulates a dead ~90 KB sketch per
    * rebuild per column forever). Returns (rowsBefore, rowsAfter). */
  def compact(spark: SparkSession, bloomRoot: String): (Long, Long) = {
    import spark.implicits._
    val descs = IndexBuilder.loadDescriptors(spark, bloomRoot)
    val live = spark.createDataset(
      descs.values.map(d => (d.sourcePath, d.modificationTime)).toSeq)
      .toDF("file", "gen")
    val all = spark.read.parquet(bloomsDir(bloomRoot))
    val before = all.count()
    val staging = s"$bloomRoot/blooms_compacting"
    // same-gen duplicates (a content-fresh file re-indexed for an added
    // column re-emits its other columns) are byte-identical — bloom
    // bits are an order-independent OR — so dropDuplicates is safe
    all.join(broadcast(live), Seq("file", "gen"), "left_semi")
      .dropDuplicates("file", "column", "gen")
      .write.mode(SaveMode.Overwrite).parquet(staging)
    val fs = new Path(bloomRoot).getFileSystem(spark.sparkContext.hadoopConfiguration)
    IndexBuilder.stagedSwap(fs, new Path(staging),
      new Path(bloomsDir(bloomRoot)), new Path(s"$bloomRoot/blooms_old"))
    spark.catalog.refreshByPath(bloomsDir(bloomRoot))
    val after = spark.read.parquet(bloomsDir(bloomRoot)).count()
    (before, after)
  }

  /** The live sketches of `wanted` (file, column, gen) triples, keyed
    * by (file, column). The gen filter runs as a semi-join BEFORE the
    * collect: only the live generation's ~90 KB sketches reach the
    * driver, however many dead generations the append-only build has
    * accumulated. A wanted pair without a row is simply absent — the
    * decision never prunes without positive evidence. */
  private[graft] def liveSketches(
      spark: SparkSession,
      bloomRoot: String,
      wanted: Seq[(String, String, Long)]): Map[(String, String), BloomFilter] = {
    import spark.implicits._
    if (wanted.isEmpty) Map.empty
    else spark.read.parquet(bloomsDir(bloomRoot))
      .filter(col("column").isin(wanted.map(_._2).distinct: _*))
      .join(broadcast(wanted.toDF("file", "column", "gen")),
        Seq("file", "column", "gen"), "left_semi")
      .select("file", "column", "bloom")
      .as[(String, String, Array[Byte])]
      .collect()
      .map { case (f, c, bytes) =>
        (f, c) -> BloomFilter.readFrom(new java.io.ByteArrayInputStream(bytes)) }
      .toMap
  }

  /** Which files must be read for an EQ leaf under the sketches alone:
    * bloom-negative fresh files are pruned; stale/uncovered files fall
    * back. */
  def selectFiles(
      spark: SparkSession,
      dataDir: String,
      pred: Eq,
      bloomRoot: String): (Seq[String], PruneReport) = {
    val d = PrunedScanner.decide(spark, dataDir, None, Some(bloomRoot -> pred)).head
    (d.toRead, d.report)
  }

  /** Bloom-pruned scan with the mandatory row-level residual. */
  def scan(spark: SparkSession, dataDir: String, pred: Eq, bloomRoot: String): DataFrame =
    PrunedScanner.prunedScan(spark, dataDir, pred, None, Some(bloomRoot))._1
}
