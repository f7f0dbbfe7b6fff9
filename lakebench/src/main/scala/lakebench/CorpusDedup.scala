package lakebench

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.llm.Dedup

/** The dedup inputs: a corpus with planted near-duplicate clusters and a
  * day-N batch, part of it planted near-duplicates of corpus documents.
  *
  * Make-up: documents of 200 words drawn uniformly from a 5,000-word
  * vocabulary (unrelated documents share almost no word 3-grams); a
  * planted copy replaces one word, so its 3-shingle Jaccard to the
  * original is 195/201 ≈ 0.97, and two copies of one original are at
  * about 0.94. */
final case class DedupCorpus(corpus: IndexedSeq[(Long, String)],
                             dayN: IndexedSeq[(Long, String)],
                             clusters: Seq[Seq[Long]],
                             dayNDups: Map[Long, Long])

object DedupGen {
  def make(seed: Long, corpusDocs: Int, clusters: Int, dayNDocs: Int,
           dayNDups: Int): DedupCorpus = {
    val rnd = new java.util.SplittableRandom(seed)
    val vocab = (0 until 5000).map(i => s"t${Integer.toString(i, 36)}")
    def fresh(): IndexedSeq[String] = IndexedSeq.fill(200)(vocab(rnd.nextInt(vocab.size)))
    def variant(words: IndexedSeq[String]): IndexedSeq[String] =
      words.updated(3 + rnd.nextInt(words.size - 6), vocab(rnd.nextInt(vocab.size)))
    val base = IndexedSeq.tabulate(corpusDocs - clusters * 2)(i => i.toLong -> fresh())
    var next = base.size.toLong
    val cl = (0 until clusters).map { c =>
      val (rootId, root) = base(c * 7 % base.size)
      val members = (0 until 2).map { _ => val id = next; next += 1; id -> variant(root) }
      (rootId +: members.map(_._1), members)
    }
    val corpus = base ++ cl.flatMap(_._2)
    val dayNBase = (0 until dayNDocs - dayNDups).map(i => (1000000L + i) -> fresh())
    val dups = (0 until dayNDups).map { i =>
      val (srcId, words) = corpus((i * 13 + 5) % corpus.size)
      (2000000L + i, variant(words), srcId)
    }
    DedupCorpus(corpus.map { case (id, w) => id -> w.mkString(" ") },
      (dayNBase ++ dups.map(d => d._1 -> d._2)).map { case (id, w) =>
        id -> w.mkString(" ") },
      cl.map(_._1), dups.map(d => d._1 -> d._3).toMap)
  }
}

/** `Dedup.dedupCorpus` over a 3,000-document corpus with 200 planted
  * clusters of three, at graft's default exact/MinHash-LSH cutover
  * (100,000 rows), so the exact inverted-index Jaccard path and the
  * iterative `connectedComponents` run; then `dedupCorpusAgainst` on a
  * 500-document day-N batch with 100 planted near-duplicates of the
  * corpus. The LSH path is left out: its derived hash family misses
  * planted pairs at Jaccard 0.97 on some seeds (README.md). */
final class CorpusDedup(val ctx: Ctx) extends Workload {
  import ctx.spark
  import spark.implicits._

  val CorpusDocs = 3000
  val Clusters = 200
  val DayNDocs = 500
  val DayNDups = 100
  /** `dedupCorpus`'s default cutover: corpora up to it take the exact path. */
  val Cutover = 100000L
  val Threshold = 0.8
  /** The exact path's Jaccard equals the benchmark's up to rounding. */
  val Tolerance = 1e-9

  private val data = DedupGen.make(ctx.seed, CorpusDocs, Clusters, DayNDocs,
    DayNDups)
  private val texts = (data.corpus ++ data.dayN).toMap
  private val shingleCache = collection.mutable.HashMap.empty[Long, Set[String]]
  private def shingles(id: Long) = shingleCache.getOrElseUpdate(id, Ref.shingles(texts(id)))
  /** Planted pairs the exact path must report: Jaccard at or above the
    * threshold. */
  private lazy val mustFind: Seq[(Long, Long)] =
    data.clusters.flatMap(c => c.combinations(2).map(p => (p(0), p(1))))
      .filter { case (i, j) => Ref.jaccard(shingles(i), shingles(j)) >= Threshold }
  private lazy val mustDrop: Set[Long] = data.dayNDups.filter { case (n, c) =>
    Ref.jaccard(shingles(n), shingles(c)) >= Threshold }.keySet

  private var corpusDf: DataFrame = _
  private var dayNDf: DataFrame = _

  def setup(): Unit = {
    val dir = ctx.dir("setup")
    data.corpus.toDF("doc_id", "text").write.mode("overwrite").parquet(s"$dir/corpus")
    data.dayN.toDF("doc_id", "text").write.mode("overwrite").parquet(s"$dir/dayn")
    corpusDf = spark.read.parquet(s"$dir/corpus")
    dayNDf = spark.read.parquet(s"$dir/dayn")
    // warm-up: one exact pass over a slice
    Dedup.dedupCorpus(corpusDf.limit(400), "doc_id", "text", Threshold)._1.count()
  }

  /** The pairs `dedupCorpus` clusters on the exact path, with its
    * parameters. */
  private def exactPairs(): DataFrame =
    Dedup.jaccardPairs(corpusDf, "doc_id", "text", 3, Threshold,
      maxShingleFreq = None).select("i", "j")

  /** `dedupCorpus`, or in the traced run the public functions it is built
    * from, in its order and with its parameters; the decomposition
    * materializes the pairs once to time them. */
  private def dedupCorpus(): (Seq[Long], Seq[(Long, Long)]) =
    if (!ctx.tracer.enabled) {
      val (cleaned, _) = Dedup.dedupCorpus(corpusDf, "doc_id", "text", Threshold,
        exactCorpusLimit = Cutover)
      (cleaned.select("doc_id").as[Long].collect().toSeq, Nil)
    } else {
      val t = ctx.tracer
      val pairs = t.span("llm.dedup.pairs") {
        require(corpusDf.count() <= Cutover)
        exactPairs().localCheckpoint(eager = true)
      }
      val comps = t.span("llm.dedup.components") { Dedup.connectedComponents(pairs) }
      val kept = t.span("llm.dedup.drop") {
        val losers = comps.filter(col("id") =!= col("comp")).select(col("id").as("doc_id"))
        val cleaned = corpusDf.join(losers, Seq("doc_id"), "left_anti")
        cleaned.count()
        cleaned.select("doc_id").as[Long].collect().toSeq
      }
      val ps = pairs.as[(Long, Long)].collect().toSeq
      Checks.components(ps, comps.as[(Long, Long)].collect().toMap)
        .foreach(ctx.check(false, _))
      (kept, ps)
    }

  def round(r: Int): Unit = {
    val ((kept, tracedPairs), s1) = ctx.op("llm.dedup.corpus") { dedupCorpus() }
    // the pairs the exact path reports, recomputed untimed with the same
    // parameters (dedupCorpus returns only the cleaned frame)
    val pairs = if (tracedPairs.nonEmpty) tracedPairs
      else exactPairs().as[(Long, Long)].collect().toSeq
    Checks.keptByComponents(data.corpus.map(_._1).toSet, pairs, kept)
      .foreach(ctx.check(false, _))
    Checks.pairJaccard(pairs, shingles, Threshold, Tolerance).foreach(ctx.check(false, _))
    Checks.plantedFound(mustFind, pairs).foreach(ctx.check(false, _))

    val ((keptN, _), s2) = ctx.op("llm.dedup.against") {
      Dedup.dedupCorpusAgainst(dayNDf, corpusDf, "doc_id", "text", Threshold,
        exactCorpusLimit = Cutover) match {
        case (cleaned, stats) => (cleaned.select("doc_id").as[Long].collect().toSeq, stats)
      }
    }
    Checks.noPlantedKept(keptN, mustDrop).foreach(ctx.check(false, _))
    ctx.sample("docs_per_s", (CorpusDocs + DayNDocs) / (s1 + s2))
    ctx.items(CorpusDocs, s1)
    ctx.items(DayNDocs, s2)
  }

  def figures: Seq[(String, Double, String)] = Seq(
    ("dedup_docs_per_s", Stats.median(ctx.samplesOf("docs_per_s")), "docs/s"),
    ("planted_pairs_checked", mustFind.size.toDouble, "count"))
}
