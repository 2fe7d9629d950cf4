package graftbench

import scala.collection.mutable

import graft.Graft
import graft.build.{BloomIndex, IndexBuilder}
import graft.query.{And, Between, Eq, Or, Pred, PruneReport, PruneStats, PrunedScanner}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Seeded events-shaped parquet data, range-clustered on `user_id`:
  * file `b` holds ids [b * RowsPerFile, (b + 1) * RowsPerFile) and only
  * the users [b * UsersPerFile, (b + 1) * UsersPerFile), so an EQ on a
  * user touches one file. */
object Events {
  val Files = 32
  val RowsPerFile = 4096L
  val UsersPerFile = 512L
  val EventTypes: Seq[String] = Seq("view", "click", "search", "like", "share", "comment",
    "follow", "login", "logout", "purchase", "signup", "error")
  val Countries: Seq[String] = Seq("us", "br", "in", "jp", "de", "fr", "gb", "ng", "id", "mx",
    "kr", "tr", "es", "it", "ca", "ar", "pl", "eg", "ph", "vn")
  /** Columns every op hashes into its answer. */
  val Projected: Seq[String] = Seq("id", "user_id", "event_type", "country", "amount")

  /** All files, one partition (so one file) per block. */
  def frame(spark: SparkSession, seed: Long): DataFrame = {
    val id = col("id")
    def h(salt: Int): Column = xxhash64(id, lit(seed), lit(salt))
    val u = pmod(h(2), lit(1000000L)).cast("double") / 1e6
    spark.range(0, Files * RowsPerFile, 1, Files).select(
      id,
      (expr(s"id div $RowsPerFile") * UsersPerFile + pmod(h(1), lit(UsersPerFile))).as("user_id"),
      // skewed: low indexes are the common event types
      element_at(typedLit(EventTypes), (floor(u * u * EventTypes.size) + 1).cast("int")).as("event_type"),
      element_at(typedLit(Countries), (pmod(h(3), lit(Countries.size.toLong)) + 1).cast("int")).as("country"),
      lower(hex(h(4))).as("session_key"),
      pmod(h(5), lit(10000L)).cast("int").as("amount"),
      (lit(1700000000000L) + id * 1000L).as("ts"))
  }

  /** (count, order-free row hash) of `df` over the projected columns. */
  def answerFrame(df: DataFrame): DataFrame =
    df.agg(count(lit(1)).as("n"),
      coalesce(sum(hash(Projected.map(col): _*).cast("long")), lit(0L)).as("h"))

  def answer(n: Long, h: Long): String = s"$n:$h"

  /** Rows and the order-free hash of every column. */
  def contentHash(df: DataFrame): (Long, Long) = {
    val r = df.agg(count(lit(1)), coalesce(sum(hash(df.columns.map(col): _*).cast("long")), lit(0L))).head()
    (r.getLong(0), r.getLong(1))
  }

  /** Bytes of the regular, non-hidden files under `path` (what data or
    * index occupies, without the filesystem's checksum side files). */
  def diskBytes(path: String): Long = {
    val p = new java.io.File(path)
    if (p.isDirectory) Option(p.listFiles()).map(_.map(f => diskBytes(f.getPath)).sum).getOrElse(0L)
    else if (p.isFile && !p.getName.startsWith(".") && p.getName != "_SUCCESS") p.length()
    else 0L
  }
}

/** One lookup: the IR for the explicit path, and the equivalent Column
  * for the transparent path and the no-index check. */
final case class IndexQuery(kind: String, pred: Pred, column: Column) {
  /** Only the bloom index covers the column. */
  def bloomOnly: Boolean = kind == "bloom_eq"
}

object LookupWorkload {
  val PostingsColumns = Seq("user_id", "event_type")
  val BloomColumns = Seq("session_key")
  val Kinds = Seq("eq", "and", "or", "in", "between", "bloom_eq")
  val PerKind = 4
  val WarmupOps = 6
}

/** `lookup`: selective predicates over the clustered events data. Ops
  * alternate between the transparent path (`Graft.read(...).filter(c)`,
  * pruned by GraftPruneRule inside the optimizer) and the explicit one
  * (`PrunedScanner.scanWithReport`, or `BloomIndex.scan` for the
  * bloom-only column); each computes (count, row hash). */
final class LookupWorkload(spark: SparkSession, seed: Long, tracer: Tracer) extends Workload {
  import LookupWorkload._

  private var dataDir = ""
  private var indexRoot = ""
  private var bloomRoot = ""
  private var sizes = Map.empty[String, Long]     // canonical path -> bytes
  private var pool = IndexedSeq.empty[IndexQuery]
  private val buildSecs = mutable.ArrayBuffer.empty[Double]
  private val pruneMs = mutable.ArrayBuffer.empty[Long]
  private val plain = spark.newSession()          // nothing registered: the no-index path

  def inputOf(seq: Int): Int = seq % pool.size
  /** Each input runs on both paths: the path flips every pass. */
  private def explicitFor(seq: Int): Boolean = (seq + seq / pool.size) % 2 == 1
  /** A pass runs every input on both paths; 48 ops leave 12 samples
    * beyond the reported 75th percentile. */
  def passOps: Int = 2 * pool.size
  def minPasses: Int = 1

  def setup(dir: String): Unit = {
    dataDir = s"$dir/data"
    indexRoot = s"$dir/index"
    bloomRoot = s"$dir/bloom"
    tracer.span("setup.generate") { Events.frame(spark, seed).write.parquet(dataDir) }
    val t0 = System.nanoTime()
    tracer.span("setup.index_build") {
      IndexBuilder.build(spark, dataDir, PostingsColumns, indexRoot, overwrite = true)
      BloomIndex.build(spark, dataDir, BloomColumns, bloomRoot, overwrite = true)
    }
    buildSecs += (System.nanoTime() - t0) / 1e9
    Graft.registerIndex(spark, dataDir, indexRoot)
    Graft.registerBloom(spark, dataDir, bloomRoot)
    sizes = IndexBuilder.listDataFiles(spark, dataDir).map(f => f.path -> f.length).toMap
    pool = queries()
  }

  def warmup(): Unit = (0 until WarmupOps).foreach(i => op(i * 7 + 1))

  def fingerprint(sizeFacts: Boolean): Seq[(String, Any)] = {
    val (rows, h) = Events.contentHash(spark.read.parquet(dataDir))
    Seq("rows" -> rows, "files" -> sizes.size, "bytes" -> sizes.values.sum, "content_hash" -> h) ++
      (if (!sizeFacts) Nil
      else Seq(
        "distinct_users" -> spark.read.parquet(dataDir).select("user_id").distinct().count(),
        "postings_rows" -> IndexBuilder.postings(spark, indexRoot).count(),
        "index_bytes" -> (Events.diskBytes(indexRoot) + Events.diskBytes(bloomRoot)),
        "distinct_inputs" -> pool.size))
  }

  /** The seeded pool: `PerKind` queries of each kind, interleaved, built
    * from sampled rows so every value named exists. Multi-value queries
    * take their rows from distinct files. */
  private def queries(): IndexedSeq[IndexQuery] = {
    val rnd = new scala.util.Random(seed * 31 + 7)
    val picks = (0 until Kinds.size * PerKind).map { _ =>
      rnd.shuffle((0 until Events.Files).toIndexedSeq).take(4)
        .map(f => f * Events.RowsPerFile + rnd.nextInt(Events.RowsPerFile.toInt))
    }
    val rows = spark.read.parquet(dataDir)
      .filter(col("id").isin(picks.flatten.distinct: _*))
      .select("id", "user_id", "event_type", "session_key").collect()
      .map(r => r.getLong(0) -> r).toMap
    def user(id: Long) = rows(id).getLong(1)
    def eqp(c: String, v: Any): (Pred, Column) = (Eq(c, v.toString), col(c) === lit(v))
    picks.zipWithIndex.map { case (ids, j) =>
      val k = Kinds(j % Kinds.size)
      val (pred, column) = k match {
        case "eq" => eqp("user_id", user(ids(0)))
        case "and" =>
          val (a, b) = (eqp("user_id", user(ids(0))), eqp("event_type", rows(ids(0)).getString(2)))
          (And(a._1, b._1), a._2 && b._2)
        case "or" =>
          val (a, b) = (eqp("user_id", user(ids(0))), eqp("user_id", user(ids(1))))
          (Or(a._1, b._1), a._2 || b._2)
        case "in" =>
          val us = ids.map(user)
          (Pred.in("user_id", us.map(_.toString)), col("user_id").isin(us: _*))
        case "between" =>
          // an eighth of one file's user range
          val lo = user(ids(0)) - user(ids(0)) % Events.UsersPerFile +
            rnd.nextInt((Events.UsersPerFile * 3 / 4).toInt)
          val hi = lo + Events.UsersPerFile / 8
          (Between("user_id", Some(BigDecimal(lo)), Some(BigDecimal(hi)), loInc = true, hiInc = true),
            col("user_id").between(lo, hi))
        case _ => eqp("session_key", rows(ids(0)).getString(3))
      }
      IndexQuery(k, pred, column)
    }
  }

  def op(seq: Int): OpRecord = {
    val j = inputOf(seq)
    val q = pool(j)
    val explicit = explicitFor(seq)
    val before = PruneStats.counters()
    val t0 = System.nanoTime()
    var report: Option[PruneReport] = None
    val agg =
      if (explicit) {
        val df = tracer.span("query.select_files") {
          if (q.bloomOnly) BloomIndex.scan(spark, dataDir, q.pred.asInstanceOf[Eq], bloomRoot)
          else {
            val (d, r) = PrunedScanner.scanWithReport(spark, dataDir, q.pred, indexRoot)
            report = Some(r)
            d
          }
        }
        val a = Events.answerFrame(df)
        tracer.span("plans.optimize") { a.queryExecution.optimizedPlan }
        a
      } else tracer.span("plans.optimize") {
        val a = Events.answerFrame(Graft.read(spark, dataDir).filter(q.column))
        a.queryExecution.optimizedPlan
        a
      }
    val row = tracer.span("spark.execute") { agg.collect().head }
    val ns = System.nanoTime() - t0
    // untimed: what the decision kept, from the executed plan's files
    pruneMs += PruneStats.counters()._4 - before._4
    val read = agg.inputFiles.map(IndexBuilder.canonicalPath).distinct
    OpRecord(j, ns, Events.answer(row.getLong(0), row.getLong(1)),
      rowsReturned = row.getLong(0),
      filesRead = read.length, filesTotal = sizes.size,
      bytesRead = read.map(p => sizes.getOrElse(p, 0L)).sum, bytesTotal = sizes.values.sum,
      fallbackFiles = report.map(_.fallbackFiles).getOrElse(0),
      explicitPath = explicit)
  }

  private def fullScan(q: IndexQuery): String = {
    val r = Events.answerFrame(plain.read.parquet(dataDir).filter(q.column)).collect().head
    Events.answer(r.getLong(0), r.getLong(1))
  }

  /** One pass over the data, in a session with no index registered,
    * computes every distinct input's (count, row hash). */
  def verify(answers: Map[Int, String], timeBaseline: Boolean): Verification = {
    val h = hash(Events.Projected.map(col): _*).cast("long")
    val aggs = pool.flatMap(q => Seq(
      sum(when(q.column, 1L).otherwise(0L)), sum(when(q.column, h).otherwise(0L))))
    val r = plain.read.parquet(dataDir).agg(aggs.head, aggs.tail: _*).head()
    val mismatches = pool.indices.flatMap { j =>
      val want = Events.answer(r.getLong(2 * j), r.getLong(2 * j + 1))
      answers.get(j) match {
        case Some(got) if got == want => None
        case Some(got) => Some(j -> s"index path $got, full scan $want (${pool(j).pred})")
        case None => Some(j -> "never answered")
      }
    }
    val baseline =
      if (!timeBaseline) Nil
      else pool.indices.take(Kinds.size).map { j =>
        val t0 = System.nanoTime()
        fullScan(pool(j))
        (System.nanoTime() - t0) / 1e6
      }
    Verification(pool.size, mismatches, baseline)
  }

  def endToEnd(): Seq[(String, Double)] = Seq(
    "index_bytes_per_data_byte" ->
      (Events.diskBytes(indexRoot) + Events.diskBytes(bloomRoot)).toDouble / sizes.values.sum)

  def layerCounters(traced: Seq[OpRecord]): Seq[(String, Double)] = Seq(
    "query.prune_report_ms" -> Stats.mean(pruneMs.takeRight(traced.size).map(_.toDouble).toSeq),
    "build.mb_per_s" -> sizes.values.sum / 1e6 / Stats.median(buildSecs.toSeq))
}
