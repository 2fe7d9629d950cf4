package graft.query

import graft.build.{BloomIndex, IndexBuilder}
import graft.intervals.{Block, IntervalOps}
import org.apache.spark.internal.Logging
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.util.sketch.BloomFilter

/** What the pruner decided, for observability parity with the reference
  * (R10: splits/bytes before and after, pruning wall time —
  * `BlockIndexedFileInputFormat.java:136-137, 179-185`). */
final case class PruneReport(
    totalFiles: Int,
    selectedFiles: Int,
    fallbackFiles: Int,
    totalBytes: Long,
    selectedBytes: Long,
    pruneTimeMs: Long) {
  def bytesRatio: Double =
    if (selectedBytes == 0) Double.PositiveInfinity
    else totalBytes.toDouble / selectedBytes
}

/** Process-wide pruning telemetry: every pruning decision records its
  * [[PruneReport]] here, and a harness (Bench) can emit one aggregate
  * line per run — the reference's headline observability
  * (`BlockIndexedFileInputFormat.java:179-185` logs splits/bytes
  * before/after and elapsed pruning time per job; this is the per-run
  * rollup of the same counters). Bounded state: four longs and a
  * counter, never the report list itself. */
object PruneStats {
  private val lock = new Object
  private var nScans = 0L
  private var bytesTotal = 0L
  private var bytesRead = 0L
  private var pruneMs = 0L

  private[graft] def record(r: PruneReport): Unit = lock.synchronized {
    nScans += 1
    bytesTotal += r.totalBytes
    bytesRead += r.selectedBytes
    pruneMs += r.pruneTimeMs
  }

  def reset(): Unit = lock.synchronized {
    nScans = 0; bytesTotal = 0; bytesRead = 0; pruneMs = 0
  }

  /** Raw cumulative counters, zeros included — for delta accounting: a
    * harness that re-measures queries (Bench's contention retries)
    * subtracts a before-counters from an after-counters to attribute
    * pruning work to ONE attempt instead of double-counting retries. */
  def counters(): (Long, Long, Long, Long) = lock.synchronized {
    (nScans, bytesTotal, bytesRead, pruneMs)
  }

  /** One compact JSON-ish summary, or None when no pruned scan ran. */
  def summaryLine(): Option[String] = lock.synchronized {
    if (nScans == 0) None
    else {
      val ratio =
        if (bytesRead == 0) Double.PositiveInfinity
        else bytesTotal.toDouble / bytesRead
      Some(f"""{"pruned_scans":$nScans,"bytes_before":$bytesTotal,"bytes_after":$bytesRead,"skip_ratio":$ratio%.2f,"prune_ms":$pruneMs}""")
    }
  }
}

/** Index-consulting scan pruning — the Spark rebuild of the reference's
  * `getSplits` (`retrieval/BlockIndexedFileInputFormat.java:110-187`),
  * which consults whatever index a file has in one place. Here that
  * place is [[decide]]: it lists the dataset once, checks each file's
  * verified freshness once per index root, gathers evidence from the
  * roots it is given, and excludes a file iff either proof holds:
  *
  *  - the postings proof: the EQ/AND/OR/BETWEEN tree evaluated
  *    bottom-up over the file's posting lists ([[qualify]]: EQ =
  *    postings lookup, AND = interval intersection, OR = capped union)
  *    is empty;
  *  - the bloom proof: the file's live sketches prove the tree false
  *    ([[provablyFalse]]).
  *
  * Each decision builds, logs and records (in [[PruneStats]]) exactly
  * one [[PruneReport]]. Every pruned read re-applies the predicate
  * row-level over the survivors.
  *
  * Fallback soundness (R3): a file no index can judge — missing or
  * stale descriptor (changed length/mtime/checksum), or a predicate
  * column not covered — is scanned in full, exactly like the
  * reference's checksum-mismatch path (`:338-386`). Pruning can only
  * *drop* work for provably-non-matching files, never rows.
  *
  * Scale shape: each index answers with ONE small Spark job collected
  * to the driver — the postings lookup partition-pruned to the
  * predicate's columns and value-pruned by parquet min/max, the
  * sketches semi-joined to their live generation — the same place the
  * reference prunes (driver-side getSplits). The data read then lists
  * only surviving files, so at 1000x the files the scan plan never
  * touches pruned files' footers at all.
  */
object PrunedScanner extends Logging {

  /** Evaluate `pred` over one file's leaf->postings map. Returns the
    * qualifying byte ranges (empty = file provably has no match).
    * `None` from a leaf lookup means "leaf value absent from this
    * file's index" — for an indexed column that is a definitive empty
    * posting list. */
  private[query] def qualify(
      pred: Pred,
      leafPostings: Map[Pred, Seq[Block]],
      capBytes: Long): Seq[Block] = pred match {
    case And(l, r) =>
      IntervalOps.intersect(
        qualify(l, leafPostings, capBytes),
        qualify(r, leafPostings, capBytes))
    case Or(l, r) =>
      IntervalOps.unionCapped(
        qualify(l, leafPostings, capBytes),
        qualify(r, leafPostings, capBytes),
        capBytes)
    case leaf => leafPostings.getOrElse(leaf, Nil)
  }

  /** The bloom proof calculus folded through the tree: an EQ leaf whose
    * live sketch (`sketch(column)`, present only for a fresh, covered
    * column) is NEGATIVE is provably false for the file (no false
    * negatives); every other leaf proves nothing; AND is false if
    * EITHER side is, OR only if BOTH are — so an IN-list / OR-of-EQ
    * probe excludes every file negative for all its disjuncts. */
  private def provablyFalse(pred: Pred, sketch: String => Option[BloomFilter]): Boolean =
    pred match {
      case Eq(c, v)  => sketch(c).exists(!_.mightContainString(v))
      case And(l, r) => provablyFalse(l, sketch) || provablyFalse(r, sketch)
      case Or(l, r)  => provablyFalse(l, sketch) && provablyFalse(r, sketch)
      case _         => false
    }

  /** Postings-collect safety cap (see [[decide]]). */
  val MaxCollectedPostings: Int = 1 << 20

  /** One decision's verdict on every listed file: `selected` files are
    * kept on index evidence, `fallback` files had none and are read in
    * full, `excluded` files were proven irrelevant. */
  private[graft] final case class Decision(
      selected: Seq[IndexBuilder.SourceFile],
      fallback: Seq[IndexBuilder.SourceFile],
      excluded: Seq[IndexBuilder.SourceFile],
      report: PruneReport) {
    def toRead: Seq[String] = (selected ++ fallback).map(_.path)
  }

  /** Which files of `dataDir` must be read for `pred` under the
    * postings index at `indexRoot` (selected-by-index ++ fallback),
    * plus the report. */
  def selectFiles(
      spark: SparkSession,
      dataDir: String,
      pred: Pred,
      indexRoot: String,
      capBytes: Long = IndexBuilder.DefaultCapBytes): (Seq[String], PruneReport) = {
    val d = decide(spark, dataDir, Some(indexRoot -> Seq(pred)), None, capBytes).head
    (d.toRead, d.report)
  }

  /** THE pruning decision. `postings` names a postings index root and
    * the predicates it judges — one [[Decision]] per predicate, all
    * sharing ONE listing, descriptor read and postings lookup (what
    * makes [[verifyCounts]]' per-key sweep viable); `bloom` names a
    * bloom root and the predicate its sketches judge in every decision.
    * Without `postings` there is exactly one decision. A file is
    * excluded iff the postings proof or the bloom proof holds; it falls
    * back iff neither index can judge it. */
  private[graft] def decide(
      spark: SparkSession,
      dataDir: String,
      postings: Option[(String, Seq[Pred])],
      bloom: Option[(String, Pred)],
      capBytes: Long = IndexBuilder.DefaultCapBytes): Seq[Decision] = {
    import spark.implicits._
    val t0 = System.nanoTime()
    val files = IndexBuilder.listDataFiles(spark, dataDir)

    // Verified freshness, once per (file, root): descriptors built
    // withChecksums also compare the filesystem content checksum, so an
    // mtime-preserving rewrite falls back to a full scan of that file
    // instead of serving stale evidence. Maps each fresh file to its
    // descriptor.
    def fresh(root: String): Map[String, IndexBuilder.DescriptorRow] = {
      val descriptors = IndexBuilder.loadDescriptors(spark, root)
      files.flatMap(f =>
        IndexBuilder.freshDescriptorVerified(spark, descriptors, f).map(f.path -> _)).toMap
    }

    // Postings evidence: one lookup for ALL leaves of ALL predicates at
    // once. The partition filter on `column` prunes index directories;
    // the value filter hits parquet min/max on the sorted postings
    // files. EQ leaves push an exact key; BETWEEN leaves push a
    // decimal-cast range as a PREFILTER only — the authoritative bound
    // check is the driver-side exact BigDecimal test in Pred.leafMatches
    // (integral keys always fit decimal(38,12), so the prefilter never
    // drops a matching key).
    val postingsFresh = postings.fold(Map.empty[String, IndexBuilder.DescriptorRow])(p => fresh(p._1))
    val allLeaves = postings.toSeq.flatMap(_._2).flatMap(_.leaves).distinct
    def leafFilter(l: Pred): org.apache.spark.sql.Column = l match {
      case Eq(c, v) => col("column") === c && col("value") === v
      case Between(c, lo, hi, _, _) =>
        val dec = col("value").cast(org.apache.spark.sql.types.DecimalType(38, 12))
        val conds = lo.map(b => dec >= lit(b.underlying)).toSeq ++
          hi.map(b => dec <= lit(b.underlying)).toSeq
        conds.foldLeft(col("column") === c)(_ && _)
      case other => sys.error(s"not a leaf: $other")
    }
    // gen must match the live descriptor: rebuilt files leave stale
    // postings rows behind (append-only index); a mismatched gen means
    // the row describes a previous incarnation of the file.
    // Bounded collect: a wide range over a high-cardinality column can
    // match O(files x distinct values) postings rows; past the cap the
    // batch degrades to a full scan (sound, never partial) instead of
    // an unbounded driver collect. IN lists are separately capped at
    // translation time (Pred.MaxInValues).
    var overflow = false
    val hits: Map[(String, Pred), Seq[Block]] =
      if (allLeaves.isEmpty || postingsFresh.isEmpty) Map.empty
      else {
        val collected = IndexBuilder.postings(spark, postings.get._1)
          .filter(allLeaves.map(leafFilter).reduce(_ || _))
          .select("file", "column", "value", "ranges", "gen")
          .limit(MaxCollectedPostings + 1)
          .as[(String, String, String, Seq[Block], Long)]
          .collect()
        overflow = collected.length > MaxCollectedPostings
        if (overflow) {
          logWarning(s"PrunedScan $dataDir: postings lookup exceeded " +
            s"$MaxCollectedPostings rows for ${allLeaves.size} leaves — " +
            "falling back to a full scan for this batch")
        }
        val rows = collected
          .filter { case (f, _, _, _, g) =>
            postingsFresh.get(f).exists(_.modificationTime == g) }
        val byColumn = allLeaves.groupBy {
          case Eq(c, _)               => c
          case Between(c, _, _, _, _) => c
          case other                  => sys.error(s"not a leaf: $other")
        }
        rows.flatMap { case (f, c, v, ranges, _) =>
          byColumn.getOrElse(c, Nil)
            .filter(Pred.leafMatches(_, v))
            .map(l => (f, l) -> ranges)
        }
          .groupBy(_._1)
          .view.mapValues(rs => IntervalOps.normalize(rs.flatMap(_._2).toSeq))
          .toMap
      }

    // Bloom evidence: a file's usable sketches are its fresh
    // descriptor's covered columns ∩ the predicate's EQ columns.
    val bloomEqCols = bloom.toSeq.flatMap(_._2.leaves).collect { case Eq(c, _) => c }.toSet
    val bloomCols: Map[String, Seq[String]] = bloom.fold(Map.empty[String, Seq[String]]) { b =>
      fresh(b._1).view.mapValues(_.columns.filter(bloomEqCols)).filter(_._2.nonEmpty).toMap
    }
    val sketches = bloom.fold(Map.empty[(String, String), BloomFilter]) { b =>
      BloomIndex.liveSketches(spark, b._1, files.flatMap(f =>
        bloomCols.getOrElse(f.path, Nil).map(c => (f.path, c, f.modificationTime))))
    }

    // shared listing/lookup time amortized across the batch so summing
    // per-pred pruneTimeMs over a 1000-key sweep doesn't report the one
    // shared lookup a thousand times
    val postingsPreds = postings.fold(Seq(Option.empty[Pred]))(_._2.map(Some(_)))
    val sharedMs = (System.nanoTime() - t0) / 1000000 / math.max(postingsPreds.size, 1)

    // the files the postings index can judge depend only on the
    // predicate's column set — memoized so a per-key sweep (1000s of
    // same-column predicates) partitions the file list once, not per key
    val judgedByColumns = scala.collection.mutable.Map.empty[Set[String], Set[String]]
    postingsPreds.map { postingsPred =>
      val tp = System.nanoTime()
      val judged = postingsPred.fold(Set.empty[String]) { p =>
        judgedByColumns.getOrElseUpdate(p.columns,
          if (overflow) Set.empty
          else postingsFresh.collect {
            case (path, d) if p.columns.forall(d.columns.contains) => path }.toSet)
      }
      val leaves = postingsPred.toSeq.flatMap(_.leaves).distinct
      val (excluded, kept) = files.partition { f =>
        postingsPred.exists(p => judged(f.path) && qualify(p,
          leaves.map(l => l -> hits.getOrElse((f.path, l), Nil)).toMap, capBytes).isEmpty) ||
          bloom.exists(b => provablyFalse(b._2, c => sketches.get((f.path, c))))
      }
      val (sel, fb) = kept.partition(f => judged(f.path) || bloomCols.contains(f.path))
      val report = PruneReport(
        totalFiles = files.size,
        selectedFiles = sel.size,
        fallbackFiles = fb.size,
        totalBytes = files.map(_.length).sum,
        selectedBytes = kept.map(_.length).sum,
        pruneTimeMs = sharedMs + (System.nanoTime() - tp) / 1000000)
      logInfo(s"PrunedScan $dataDir postings=${postingsPred.getOrElse("-")} " +
        s"bloom=${bloom.fold("-")(_._2.toString)}: " +
        s"files ${report.selectedFiles}+${report.fallbackFiles}fallback/${report.totalFiles}, " +
        s"bytes ${report.selectedBytes}/${report.totalBytes} " +
        s"(ratio ${report.bytesRatio}), ${report.pruneTimeMs} ms")
      PruneStats.record(report)
      Decision(sel, fb, excluded, report)
    }
  }

  /** `residual` overrides the row-level re-check when the index key is
    * derived rather than a physical column (e.g. the block text index
    * keys on tokens). It must be implied by `pred` for soundness. */
  def scanWithReport(
      spark: SparkSession,
      dataDir: String,
      pred: Pred,
      indexRoot: String,
      capBytes: Long = IndexBuilder.DefaultCapBytes,
      residual: Option[org.apache.spark.sql.Column] = None): (DataFrame, PruneReport) =
    prunedScan(spark, dataDir, pred, Some(indexRoot), None, capBytes, residual)

  /** The one pruned read: decide under the given roots, read the kept
    * files (or an empty frame of the dataset's schema) and apply the
    * mandatory row-level residual. */
  private[graft] def prunedScan(
      spark: SparkSession,
      dataDir: String,
      pred: Pred,
      indexRoot: Option[String],
      bloomRoot: Option[String],
      capBytes: Long = IndexBuilder.DefaultCapBytes,
      residual: Option[org.apache.spark.sql.Column] = None): (DataFrame, PruneReport) = {
    val schema = spark.read.parquet(dataDir).schema
    // Between pruning is proven sound only for INTEGRAL columns (their
    // stringified keys round-trip exactly through BigDecimal); on any
    // other column type — or one absent from the schema — the postings
    // index is not consulted and the residual does the work over a full
    // scan. The Catalyst translation only ever produces integral
    // Betweens; this guards hand-built predicates.
    def integral(t: org.apache.spark.sql.types.DataType): Boolean = t match {
      case org.apache.spark.sql.types.ByteType | org.apache.spark.sql.types.ShortType |
          org.apache.spark.sql.types.IntegerType | org.apache.spark.sql.types.LongType => true
      case _ => false
    }
    val betweenUnsound = pred.leaves.exists {
      case Between(c, _, _, _, _) =>
        !schema.find(_.name == c).exists(f => integral(f.dataType))
      case _ => false
    }
    if (betweenUnsound)
      logWarning(s"PrunedScan $dataDir: BETWEEN over a non-integral column " +
        s"in $pred — index pruning skipped, scanning fully")
    val decision = decide(spark, dataDir,
      indexRoot.filterNot(_ => betweenUnsound).map(_ -> Seq(pred)),
      bloomRoot.map(_ -> pred), capBytes).head
    val toRead = decision.toRead
    val df =
      if (toRead.isEmpty)
        spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
      else spark.read.schema(schema).parquet(toRead: _*)
    // Residual row-level re-check is mandatory: block pruning is coarse
    // (BlockIndexedFileInputFormat.java:669-679). The schema-aware form
    // keeps the filter parquet-pushable (row-group min/max + dictionary
    // skipping) on typed columns. When Bench's untimed observability
    // pass has a label set (ScanMetrics.withObservation), the residual
    // is wrapped with scanned/qualified counters instead — that plan
    // loses residual pushdown, which is exactly why it is opt-in.
    val resCol = residual.getOrElse(pred.toColumnFor(schema))
    val filtered = ScanMetrics.nextObservationName() match {
      case Some(n) => ScanMetrics.observed(df, resCol, name = n)
      case None => df.filter(resCol)
    }
    (filtered, decision.report)
  }

  def scan(spark: SparkSession, dataDir: String, pred: Pred, indexRoot: String): DataFrame =
    scanWithReport(spark, dataDir, pred, indexRoot)._1

  /** Port of the reference's full verification sweep
    * (`retrieval/ScanUsingIndexJob.java:45-80`,
    * `verification/IndexScanMapper.java:22-95`): for every unique value
    * of `column` in the index, count matching rows THROUGH THE INDEX
    * PATH; the output `(value, n)` is diffed against a full-scan
    * group-by. The reference runs one scan per key and documents the
    * cost (">10000 unique keys" warning); here the per-key prune
    * decisions share one batched index lookup and the counts run as ONE
    * job over the union of pruned file sets. Per-key scan semantics are
    * preserved exactly — a row counts toward key v only if its file is
    * in v's pruned set — so an unsound index (a file wrongly pruned for
    * v) still surfaces as a count mismatch even when another key's set
    * includes that file. */
  def verifyCounts(
      spark: SparkSession,
      dataDir: String,
      column: String,
      indexRoot: String,
      capBytes: Long = IndexBuilder.DefaultCapBytes): DataFrame = {
    import spark.implicits._
    val values = IndexBuilder.postings(spark, indexRoot)
      .filter(col("column") === column)
      .select("value").distinct().as[String].collect().sorted.toIndexedSeq
    val sets = decide(spark, dataDir,
      Some(indexRoot -> values.map(v => Eq(column, v): Pred)), None, capBytes)
    // Index-SELECTED (value, file) pairs only: their count is bounded by
    // the postings rows the driver already holds. FALLBACK files (same
    // set for every key — the split depends only on the column) are
    // handled without materializing values x files pairs: every row of a
    // fallback file counts toward its own value, exactly what the
    // per-key loop's residual filter would do, restricted to keys the
    // index knows.
    val selMembership = values.zip(sets).flatMap { case (v, d) =>
      d.selected.map(f => (v, f.path)) }
    val fallbackFiles = sets.headOption.map(_.fallback.map(_.path)).getOrElse(Nil)
    val selFiles = sets.flatMap(_.selected.map(_.path)).distinct
    val valuesDf = spark.createDataset(values).toDF("value")
    val schema = spark.read.parquet(dataDir).schema
    val canon = selFiles.headOption
      .map(p => IndexBuilder.canonicalizeExpr(spark,
        IndexBuilder.SourceFile(p, 0L, 0L)))
      .getOrElse { val u = udf((p: String) => IndexBuilder.canonicalPath(p))
        (c: org.apache.spark.sql.Column) => u(c) }
    def read(paths: Seq[String]): DataFrame =
      spark.read.schema(schema).parquet(paths: _*)
    val parts = Seq(
      if (selFiles.isEmpty) None
      else Some(read(selFiles)
        .select(col(column).cast("string").as("value"),
          canon(col("_metadata.file_path")).as("file"))
        .join(broadcast(selMembership.toDF("value", "file")), Seq("value", "file"))
        .select("value")),
      if (fallbackFiles.isEmpty) None
      else Some(read(fallbackFiles)
        .select(col(column).cast("string").as("value"))
        .join(broadcast(valuesDf), Seq("value"), "left_semi"))
    ).flatten
    if (parts.isEmpty) return valuesDf.withColumn("n", lit(0L))
    val counted = parts.reduce(_ unionByName _)
      .groupBy("value").agg(count(lit(1)).as("n"))
    // keys whose postings pruned every file still report (zero) counts,
    // as the per-key loop would
    valuesDf.join(counted, Seq("value"), "left")
      .select(col("value"), coalesce(col("n"), lit(0L)).as("n"))
  }
}
