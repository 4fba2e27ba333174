package perfbench

import java.nio.file.Path

import graft.SparkEntry
import graft.dedup.Dedup
import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._

/** The dedup mix: five registered doc-dedup queries over a seeded
  * dense-vocabulary `documents` table (the sf0.1 shape: 31-word
  * vocabulary, 20 sources), plus the two cost-based pair choosers on a
  * seeded large-vocabulary Zipf corpus. The two corpora sit on opposite
  * sides of the chooser (count regime vs prefix regime). Each query runs
  * into the noop sink with its row count and an order-free content hash
  * observed on the way.
  */
final class DedupMix(spark: SparkSession, rec: Recorder, work: Path, seed: Long) extends Workload {
  private val DenseDocs = 600
  private val Sources = 20
  private val ZipfDocs = 1000
  private val ZipfLen = 30
  private val ZipfVocab = 30000
  private val dir = work.resolve("dedup")
  private val Registered = Seq("doc_exact_dedup", "doc_minhash_dedup", "doc_jaccard_pairs_auto",
    "doc_containment_pairs_auto", "doc_dedup_corpus")
  /** Each registered cost-based query and its fixed-strategy twin. */
  private val Twins = Map(
    "doc_jaccard_pairs_auto" -> "doc_jaccard_pairs",
    "doc_containment_pairs_auto" -> "doc_containment_pairs")

  private val words = Seq("spark", "window", "merge", "table", "column", "vector", "stream",
    "value", "data", "small", "join", "filter", "big", "group", "hash", "customer", "sort",
    "order", "slow", "line", "fast", "query", "scan", "key", "part", "agg", "batch", "row",
    "the", "a", "index")
  private val langs = Seq("en", "en", "en", "zh", "es", "fr", "de")

  private val dense: Seq[(Long, String, String, String, Long)] = {
    val rnd = new scala.util.Random(seed)
    (0L until DenseDocs).map { id =>
      val text = Seq.fill(10 + rnd.nextInt(91))(words(rnd.nextInt(words.size))).mkString(" ")
      (id, text, langs(rnd.nextInt(langs.size)), s"src${id % Sources}", text.length.toLong)
    }
  }
  /** Zipf-ranked tokens; every fifth doc is an earlier doc with two
    * tokens redrawn, so both pair queries have near-duplicates to find.
    */
  private val zipf: Seq[(Long, String, String)] = {
    val rnd = new scala.util.Random(seed ^ 0x5eedL)
    def token() = "t" + math.floor(math.exp(rnd.nextDouble() * math.log(ZipfVocab))).toLong
    val docs = scala.collection.mutable.ArrayBuffer.empty[IndexedSeq[String]]
    (0 until ZipfDocs).foreach { id =>
      docs += (if (id % 5 == 4) docs(rnd.nextInt(id)).updated(rnd.nextInt(ZipfLen), token())
        .updated(rnd.nextInt(ZipfLen), token())
      else IndexedSeq.fill(ZipfLen)(token()))
    }
    docs.zipWithIndex.map { case (d, id) => (id.toLong, "src", d.mkString(" ")) }.toSeq
  }

  /** Row counts known from the generated corpora: exact-dedup groups are
    * the distinct texts (every text appears twice in the query's corpus);
    * MinHash pairs are all pairs among equal token sets of that doubled
    * corpus; Jaccard ≥ 0.5 pairs are found by brute force within each
    * source block, and dedup_corpus keeps one doc per connected cluster;
    * the Zipf pair counts are brute force over all pairs.
    */
  private val expectedRows: Map[String, Long] = {
    val sets = dense.map(d => d._1 -> d._2.split(" ").toSet).toMap
    val sameSet = dense.groupBy(d => sets(d._1)).values.map(g => 2L * g.size)
    val pairs = for {
      block <- dense.groupBy(_._4).values.toSeq
      Seq(a, b) <- block.map(_._1).sorted.combinations(2)
      c = (sets(a) & sets(b)).size
      if c.toDouble / (sets(a).size + sets(b).size - c) >= 0.5
    } yield (a, b)
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    def find(x: Long): Long = parent.get(x) match {
      case Some(p) if p != x => val r = find(p); parent(x) = r; r
      case _ => x
    }
    pairs.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    // the Zipf corpus is one block: all pairs, as sorted token-id arrays
    val ids = scala.collection.mutable.HashMap.empty[String, Int]
    val zsets = zipf.map(_._3.split(" ").distinct.map(t => ids.getOrElseUpdate(t, ids.size)).sorted)
    def common(a: Array[Int], b: Array[Int]): Int = {
      var i = 0; var j = 0; var c = 0
      while (i < a.length && j < b.length) {
        if (a(i) == b(j)) { c += 1; i += 1; j += 1 } else if (a(i) < b(j)) i += 1 else j += 1
      }
      c
    }
    var zj = 0L
    var zc = 0L
    for (a <- zsets.indices; b <- a + 1 until zsets.size) {
      val (x, y) = (zsets(a), zsets(b))
      val c = common(x, y)
      if (c.toDouble / (x.length + y.length - c) >= 0.7) zj += 1
      if (c.toDouble / x.length >= 0.9) zc += 1
      if (c.toDouble / y.length >= 0.9) zc += 1
    }
    Map(
      "doc_exact_dedup" -> dense.map(_._2).distinct.size.toLong,
      "doc_minhash_dedup" -> sameSet.map(k => k * (k - 1) / 2).sum,
      "doc_jaccard_pairs_auto" -> pairs.size.toLong,
      "doc_dedup_corpus" -> dense.count(d => find(d._1) == d._1).toLong,
      "zipf_jaccard_auto" -> zj,
      "zipf_containment_auto" -> zc)
  }

  private def zipfDocs: DataFrame = spark.read.parquet(dir.resolve("zipf.parquet").toString)
  private def ops: Seq[(String, () => DataFrame)] =
    Registered.map(q => q -> (() => SparkEntry.queries(q)(spark, dir.toString))) ++ Seq(
      "zipf_jaccard_auto" -> (() => Dedup.tokenJaccardPairsAuto(zipfDocs, threshold = 0.7)),
      "zipf_containment_auto" -> (() => Dedup.tokenContainmentPairsAuto(zipfDocs, threshold = 0.9)))
  private val fixedTwins: Seq[(String, () => DataFrame)] = Twins.toSeq.map { case (q, t) =>
    q -> (() => SparkEntry.queries(t)(spark, dir.toString))
  }

  /** (rows, content hash) each query must reproduce: its twin's output,
    * else its first output in this run.
    */
  private val reference = scala.collection.mutable.Map.empty[String, (Long, BigDecimal)]
  private val verdicts = scala.collection.mutable.Map.empty[String, Double]

  def setup(): Unit = {
    Tree.delete(dir)
    import spark.implicits._
    dense.toDF("doc_id", "text", "lang", "source", "n_chars")
      .coalesce(1).write.parquet(dir.resolve("documents.parquet").toString)
    zipf.toDF("doc_id", "source", "text")
      .coalesce(1).write.parquet(dir.resolve("zipf.parquet").toString)
  }

  /** Run `df` into the noop sink, observing its row count and the sum of
    * its row hashes (order-free; decimal so it cannot overflow).
    */
  private def run(df: DataFrame): (Long, BigDecimal) = {
    val obs = Observation("check")
    df.observe(obs, count(lit(1)).as("n"),
      sum(xxhash64(df.columns.map(c => col(s"`$c`")).toIndexedSeq: _*).cast("decimal(38,0)")).as("h"))
      .write.format("noop").mode("overwrite").save()
    val m = obs.get
    (m("n").asInstanceOf[Long],
      Option(m("h")).map(v => BigDecimal(v.asInstanceOf[java.math.BigDecimal])).getOrElse(BigDecimal(0)))
  }

  private def check(q: String, r: (Long, BigDecimal)): Option[String] = {
    rec.annotate("rows" -> r._1.toDouble)
    expectedRows.get(q).filter(_ != r._1).map(n => s"$q: ${r._1} rows, want $n")
      .orElse(reference.get(q).filter(_ != r).map(ref => s"$q: $r, reference $ref"))
      .orElse { reference(q) = r; None }
  }

  /** The fixed-strategy twins, whose outputs the cost-based queries must
    * reproduce; they also warm the shared tokenize, postings and pair code.
    */
  def warmup(): Unit =
    fixedTwins.foreach { case (q, body) => rec.op(s"twin.$q")(run(body()))(r => check(q, r)) }

  def pass(i: Int): Unit = ops.foreach { case (q, body) => rec.op(q)(run(body()))(r => check(q, r)) }

  override def values: Map[String, Double] = verdicts.toMap

  /** The chooser's verdict per corpus (1 = prefix path). */
  override def layerPass(): Unit = {
    val docs = spark.read.parquet(dir.resolve("documents.parquet").toString)
    Trace.span("layer_pass") { root =>
      def verdict(name: String)(stats: => Dedup.JaccardStrategyStats): Unit =
        verdicts(s"dedup.Dedup.chooser_prefix.$name") =
          Trace.span("dedup.Dedup.chooser", root)(_ => if (stats.preferPrefix) 1.0 else 0.0)
      verdict("dense_jaccard")(Dedup.jaccardStrategyStats(docs, threshold = 0.5))
      verdict("dense_containment")(Dedup.containmentStrategyStats(docs, threshold = 0.9))
      verdict("zipf_jaccard")(Dedup.jaccardStrategyStats(zipfDocs, threshold = 0.7))
      verdict("zipf_containment")(Dedup.containmentStrategyStats(zipfDocs, threshold = 0.9))
    }
  }
}
