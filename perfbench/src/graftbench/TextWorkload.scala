package graftbench

import scala.collection.mutable

import graft.text.{PostingsStore, QueryLang, TextIndex}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

object TextWorkload {
  val BaseDocs = 8000
  val AppendDocs = 1000
  val Appends = 2
  val Vocab = 20000
  val MinLen = 8
  val MaxLen = 24
  val TopK = 10
  /** `sampleHits` keeps docs whose md5(doc_id) starts with this. */
  val SamplePrefix = "a"
  val WarmupOps = 6
  /** Scores are compared to this many significant digits: the engine
    * and the check sum the same doubles in different orders. */
  val Digits = 9

  /** Rank -> a four-letter word; a bijection on 26^4, so prefixes of
    * two letters each cover a spread of ranks. */
  def word(rank: Int): String = {
    var x = ((rank.toLong * 7919L + 13L) % 456976L).toInt
    val cs = new Array[Char](4)
    (3 to 0 by -1).foreach { i => cs(i) = ('a' + x % 26).toChar; x /= 26 }
    new String(cs)
  }

  /** One text query: its kind and arguments. */
  final case class TextQuery(kind: String, terms: Seq[String], query: String = "")
}

/** `text`: search over a Zipf-vocabulary corpus through a maintained
  * postings store (`PostingsStore.build` plus appended generations).
  * Ops mix `TextIndex.searchTopK`, `countHits`, `sampleHits`, BM25
  * `searchScoredWith` and `QueryLang.run` AND, phrase and prefix
  * queries, with terms from the head and the tail of the vocabulary. */
final class TextWorkload(spark: SparkSession, seed: Long, tracer: Tracer) extends Workload {
  import TextWorkload._

  private var dir = ""
  private def storeDir = s"$dir/store"
  private def corpusDir(part: Int) = s"$dir/corpus/part$part"
  private def corpusDirs = (0 to Appends).map(corpusDir)
  private var docs = IndexedSeq.empty[(Long, String)]
  private var pool = IndexedSeq.empty[TextQuery]
  private val buildSecs = mutable.ArrayBuffer.empty[Double]
  private var baseBytes = 0L
  private val plain = spark.newSession()

  /** Seeded corpus: doc lengths uniform, words Zipf(1) over `Vocab` ranks. */
  private def corpus(): IndexedSeq[(Long, String)] = {
    val rnd = new scala.util.Random(seed)
    val cdf = {
      val w = (1 to Vocab).map(r => 1.0 / r)
      val tot = w.sum
      w.scanLeft(0.0)(_ + _).tail.map(_ / tot).toArray
    }
    def draw(): Int = {
      val i = java.util.Arrays.binarySearch(cdf, rnd.nextDouble())
      math.min(if (i >= 0) i else -i - 1, Vocab - 1)
    }
    (0 until BaseDocs + Appends * AppendDocs).map { d =>
      val len = MinLen + rnd.nextInt(MaxLen - MinLen + 1)
      d.toLong -> Seq.fill(len)(word(draw())).mkString(" ")
    }
  }

  private def partOf(i: Int): Int = if (i < BaseDocs) 0 else 1 + (i - BaseDocs) / AppendDocs

  def setup(d: String): Unit = {
    dir = d
    import spark.implicits._
    tracer.span("setup.generate") {
      docs = corpus()
      docs.groupBy(x => partOf(x._1.toInt)).toSeq.sortBy(_._1).foreach { case (p, ds) =>
        ds.toDF("doc_id", "text").coalesce(1).write.parquet(corpusDir(p))
      }
    }
    baseBytes = Events.diskBytes(corpusDir(0))
    tracer.span("setup.index_build") {
      val t0 = System.nanoTime()
      PostingsStore.build(spark.read.parquet(corpusDir(0)), storeDir)
      buildSecs += (System.nanoTime() - t0) / 1e9
      (1 to Appends).foreach(p =>
        PostingsStore.append(spark.read.parquet(corpusDir(p)), storeDir, newIds = true))
    }
    pool = queries()
  }

  def warmup(): Unit = (0 until WarmupOps).foreach(i => op(i * 5 + 2))

  def fingerprint(sizeFacts: Boolean): Seq[(String, Any)] = {
    val (rows, h) = Events.contentHash(spark.read.parquet(corpusDirs: _*))
    Seq("rows" -> rows,
      "files" -> corpusDirs.map(d => new java.io.File(d).listFiles()
        .count(_.getName.endsWith(".parquet"))).sum,
      "bytes" -> Events.diskBytes(s"$dir/corpus"), "content_hash" -> h) ++
      (if (!sizeFacts) Nil
      else Seq(
        "tokens" -> docs.map(_._2.count(_ == ' ') + 1).sum,
        "distinct_terms" -> docs.flatMap(_._2.split(' ')).distinct.size,
        "postings_rows" -> PostingsStore.live(spark, storeDir).count(),
        "store_bytes" -> Events.diskBytes(storeDir),
        "distinct_inputs" -> pool.size))
  }

  /** The query pool. Every slot names its terms by vocabulary rank —
    * head (rank < 10), middle (100–800) or a tail term (rank > 2000)
    * drawn from a seeded document — so the postings lengths an op reads,
    * and its cost, are alike for every seed while the corpus, and so every
    * answer, differs. */
  private def queries(): IndexedSeq[TextQuery] = {
    val rnd = new scala.util.Random(seed * 17 + 5)
    val rankOf = (0 until Vocab).map(r => word(r) -> r).toMap
    def tail(): String = {
      var w = ""
      while (w.isEmpty)
        docs(rnd.nextInt(docs.size))._2.split(' ').find(t => rankOf(t) > 2000).foreach(w = _)
      w
    }
    (0 until 3).flatMap { i =>
      val (h1, h2, m) = (word(i), word(3 + i), word(100 + 300 * i))
      Seq(
        TextQuery("topk", Seq(h2, tail())),
        TextQuery("count", Seq(m, tail())),
        TextQuery("sample", Seq(if (i == 0) h1 else m)),
        TextQuery("bm25", Seq(h1, m, tail())),
        TextQuery("ql_and", Nil, s"$h1 AND $m"),
        TextQuery("ql_phrase", Nil, "\"" + s"$h1 $h2" + "\""),
        TextQuery("ql_prefix", Nil, m.take(2) + "*"))
    }
  }

  /** Five passes of 21 ops: 105 samples, 26 beyond the reported 75th
    * percentile (three passes left a 11–13 % spread between seeds). */
  def passOps: Int = pool.size
  def minPasses: Int = 5

  def inputOf(seq: Int): Int = seq % pool.size

  /** (doc_id, score) rows as their count and order-free hash. */
  private def setAnswer(df: DataFrame): DataFrame =
    df.select(col("doc_id").cast("long").as("doc_id"), col("score").cast("long").as("score"))
      .agg(count(lit(1)), coalesce(sum(hash(col("doc_id"), col("score")).cast("long")), lit(0L)))

  private def fmt(x: Double): String = s"%.${Digits - 1}e".format(x)

  /** Top-k rows as a tie-insensitive answer: the ids scoring strictly
    * above the k-th score, then every score. */
  private def topAnswer(rows: Seq[(Long, Double)]): String = {
    val scores = rows.map(r => fmt(r._2))
    val cut = scores.lastOption.getOrElse("")
    val above = rows.filter(r => fmt(r._2) != cut).map(_._1).sorted
    s"${above.mkString(",")}|${scores.mkString(",")}"
  }

  def op(seq: Int): OpRecord = {
    val j = inputOf(seq)
    val q = pool(j)
    val t0 = System.nanoTime()
    val df = tracer.span("text.construct") {
      val live = PostingsStore.live(spark, storeDir)
      q.kind match {
        case "topk" => TextIndex.searchTopK(live, q.terms, TopK)
        case "count" => TextIndex.countHits(live, q.terms)
        case "sample" => setAnswer(TextIndex.sampleHits(live, q.terms, SamplePrefix))
        case "bm25" =>
          TextIndex.searchScoredWith(live, PostingsStore.normsLive(spark, storeDir), q.terms, "bm25")
            .orderBy(col("score").desc, col("doc_id").asc).limit(TopK)
        case _ => setAnswer(QueryLang.run(live, q.query, "text"))
      }
    }
    tracer.span("plans.optimize") { df.queryExecution.optimizedPlan }
    val rows = tracer.span("text.execute") { df.collect() }
    val ns = System.nanoTime() - t0
    OpRecord(j, ns, answerOf(q.kind, rows.toSeq))
  }

  private def answerOf(kind: String, rows: Seq[Row]): String = kind match {
    case "topk" => topAnswer(rows.map(r => (r.getLong(0), r.getLong(1).toDouble)))
    case "bm25" => topAnswer(rows.map(r => (r.getLong(0), r.getDouble(1))))
    case "count" => rows.head.getLong(0).toString
    case _ => s"${rows.head.getLong(0)}:${rows.head.getLong(1)}"
  }

  // ------------------------------------------------ the no-index path
  /** Brute force over the raw corpus as read back from disk. */
  private final class Corpus(raw: Seq[(Long, String)]) {
    val toks: Map[Long, Array[String]] =
      raw.map { case (id, t) => id -> t.trim.toLowerCase.split("\\s+").filter(_.nonEmpty) }.toMap
    val tf: Map[String, Map[Long, Long]] = {
      val m = mutable.Map.empty[String, mutable.Map[Long, Long]]
      toks.foreach { case (id, ts) => ts.foreach { t =>
        val e = m.getOrElseUpdate(t, mutable.Map.empty); e(id) = e.getOrElse(id, 0L) + 1 } }
      m.map { case (k, v) => k -> v.toMap }.toMap
    }
    def sumTf(terms: Seq[String]): Map[Long, Long] =
      terms.distinct.flatMap(t => tf.getOrElse(t, Map.empty).toSeq)
        .groupMapReduce(_._1)(_._2)(_ + _)
  }

  private def md5Hex(s: String): String =
    java.security.MessageDigest.getInstance("MD5").digest(s.getBytes("UTF-8"))
      .map(b => f"$b%02x").mkString

  private def expectedOf(c: Corpus, q: TextQuery): String = {
    import plain.implicits._
    def asSet(rows: Seq[(Long, Long)]): String = {
      val r = setAnswer(rows.toDF("doc_id", "score")).head()
      s"${r.getLong(0)}:${r.getLong(1)}"
    }
    def top(scores: Map[Long, Double]): String =
      topAnswer(scores.toSeq.sortBy { case (id, s) => (-s, id) }.take(TopK))
    q.kind match {
      case "topk" => top(c.sumTf(q.terms).map { case (k, v) => k -> v.toDouble })
      case "count" => c.sumTf(q.terms).size.toString
      case "sample" => asSet(c.sumTf(q.terms).toSeq.filter(x => md5Hex(x._1.toString).startsWith(SamplePrefix)))
      case "bm25" =>
        val n = c.toks.count(_._2.nonEmpty).toDouble
        val avg = c.toks.values.map(_.length.toLong).sum.toDouble / n
        val (k1, b) = (1.2, 0.75)
        val scores = q.terms.distinct.flatMap { t =>
          val posting = c.tf.getOrElse(t, Map.empty)
          val df = posting.size.toDouble
          val idf = math.log(1.0 + (n - df + 0.5) / (df + 0.5))
          posting.toSeq.map { case (id, f) =>
            val dl = c.toks(id).length.toDouble
            id -> idf * (f * (k1 + 1)) / (f + k1 * ((1 - b) + b * dl / avg))
          }
        }.groupMapReduce(_._1)(_._2)(_ + _)
        top(scores)
      case "ql_and" =>
        val Array(a, _, bw) = q.query.split(' ')
        val (ta, tb) = (c.tf.getOrElse(a, Map.empty), c.tf.getOrElse(bw, Map.empty))
        asSet(ta.keySet.intersect(tb.keySet).toSeq.map(id => id -> (ta(id) + tb(id))))
      case "ql_phrase" =>
        val Array(a, bw) = q.query.stripPrefix("\"").stripSuffix("\"").split(' ')
        asSet(c.toks.toSeq.flatMap { case (id, ts) =>
          val occ = (0 until ts.length - 1).count(i => ts(i) == a && ts(i + 1) == bw)
          if (occ > 0) Some(id -> occ.toLong) else None
        })
      case "ql_prefix" =>
        val p = q.query.stripSuffix("*")
        asSet(c.sumTf(c.tf.keys.filter(_.startsWith(p)).toSeq).toSeq)
    }
  }

  private def readCorpus(): Corpus = {
    import plain.implicits._
    new Corpus(plain.read.parquet(corpusDirs: _*).as[(Long, String)].collect().toSeq)
  }

  def verify(answers: Map[Int, String], timeBaseline: Boolean): Verification = {
    val c = readCorpus()
    val mismatches = pool.indices.flatMap { j =>
      val want = expectedOf(c, pool(j))
      answers.get(j) match {
        case Some(got) if got == want => None
        case Some(got) => Some(j -> s"index path $got, brute force $want (${pool(j)})")
        case None => Some(j -> "never answered")
      }
    }
    val baseline =
      if (!timeBaseline) Nil
      else pool.indices.take(7).map { j =>
        val t0 = System.nanoTime()
        expectedOf(readCorpus(), pool(j))
        (System.nanoTime() - t0) / 1e6
      }
    Verification(pool.size, mismatches, baseline)
  }

  def endToEnd(): Seq[(String, Double)] = Seq(
    "index_bytes_per_data_byte" ->
      Events.diskBytes(storeDir).toDouble / Events.diskBytes(s"$dir/corpus"))

  def layerCounters(traced: Seq[OpRecord]): Seq[(String, Double)] = {
    val exec = tracer.recorded.filter(s => s.name == "text.execute" && s.phase == "loop")
    val rows = exec.map(s => Option(tracer.counters.get(s.id)).map(_.inputRecords).getOrElse(0L)).sum
    Seq(
      "text.postings_rows_read" -> (if (exec.isEmpty) 0.0 else rows.toDouble / exec.size),
      "build.mb_per_s" -> baseBytes / 1e6 / Stats.median(buildSecs.toSeq))
  }
}
