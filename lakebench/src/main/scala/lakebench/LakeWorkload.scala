package lakebench

import java.io.File

import org.apache.spark.sql.functions._

import graft.core.{Lakehouse, Layout}
import graft.llm.{FeedConsumer, Retrieval, Similarity}

/** The keyed lake: writes, the change feed and its consumers, reads, and
  * maintenance, on one table.
  *
  * Set-up lands 3,000 rows (`doc_id`, `text`, `embedding`, `score`, `n`)
  * as generation 0 of the source table with a Bloom manifest on `doc_id`,
  * bootstraps a replica, the change-feed relay and the tracked BM25 and
  * vector indexes at generation 0. 24 rows carry a planted term no other
  * row has; they are never mutated.
  *
  * Each round, in this order:
  *  1. writes: an insert batch of 8 new rows (`appendAt` the next
  *     generation), a small upsert (8 rows), a takedown (4 keys) and a
  *     large upsert (1,000 rows); 60% of the keys come from the hottest 5%
  *     of the key space and a quarter of upserted rows are new;
  *  2. the relay: `landChangesTracked` lands the round's window,
  *     `applyChangesByKey` applies it to the replica (one window per
  *     drain) and `applyFeed*Tracked` to the two indexes;
  *  3. reads, in a seeded order: `pointLookup` of a present, a deleted and
  *     a never-present key, a `prunedScan` on the Z-ordered `score`/`n`
  *     columns, `describeTables` over the lake root, a BM25 top-10 query
  *     for a planted term and an IVF top-10 query pair with every list
  *     probed;
  *  4. maintenance: `compact` and `vacuum`. The compact starts a new
  *     epoch, so the relay and the indexes re-bootstrap from the compacted
  *     table before the next round's relay.
  *
  * The relay consumes through the open generation. That is safe here
  * because the source is quiesced while it runs and every round opens a
  * new generation (step 1 starts with an append) before anything can
  * stamp a tombstone: tombstones carry the table's current generation, so
  * one stamped into a generation a consumer already read would never
  * reach it. */
final class LakeWorkload(ctx: Ctx) extends Workload {
  import ctx.spark
  import spark.implicits._

  val InitialRows = 3000
  val HotKeys = 150
  val SmallRows = 8
  val LargeRows = 1000
  val TakedownKeys = 4
  val Planted = 24
  val NList = 8

  private val gen = new DocGen(ctx.seed)
  private val plantedIds: Set[Long] = {
    val rnd = new java.util.SplittableRandom(ctx.seed * 7 + 3)
    Iterator.continually((InitialRows / 2 + rnd.nextInt(InitialRows / 2)).toLong)
      .distinct.take(Planted).toSet
  }
  private def plantedTerm(id: Long) = s"zzplant$id"
  private val initial: Seq[Doc] = (0 until InitialRows).map { i =>
    val d = gen.doc(i.toLong)
    if (plantedIds.contains(d.id)) d.copy(text = d.text + " " + plantedTerm(d.id)) else d
  }

  private val base = ctx.dir("setup")
  private val model = new TableModel
  private var epoch = 0
  private var nextId = InitialRows.toLong
  private var maxDebt = 0L
  private var hits, rowsOut = 0L
  /** Keys taken down and not upserted since: lookups of deleted keys. */
  private val gone = collection.mutable.LinkedHashSet.empty[Long]

  private def root = s"$base/lake"
  private def src = s"$root/src"
  private def replica = s"$root/replica"
  private def feed = s"$base/feed_e$epoch"
  private def bm25Root = s"$base/idx/bm25_e$epoch"
  private def vecRoot = s"$base/idx/vec_e$epoch"

  private def initIndexes(asOf: Long, docs: Seq[Doc]): Unit = {
    val frame = Lake.frame(spark, docs)
    FeedConsumer.initTrackedBm25IndexOver(spark, bm25Root, frame, src, asOf)
    FeedConsumer.initTrackedVectorIndex(spark, vecRoot,
      Similarity.buildVectorIndex(frame, nlist = NList, m = 4, codebookSize = 16,
        idCol = "doc_id"), src, asOf)
  }

  def setup(): Unit = {
    val frame = Lake.frame(spark, initial)
    Lakehouse.appendAt(spark, src, frame, Lake.ZCols, gen = 0L, partitions = 4)
    model.appendGen(initial, 0L)
    Layout.writeBloomManifest(spark, src, "doc_id",
      expectedKeysPerFile = 4096, fpp = 0.01)
    Lakehouse.appendAt(spark, replica, frame, Lake.ZCols, gen = 0L, partitions = 4)
    Lakehouse.landChangesTracked(spark, src, feed, initFromGen = 0L)
    initIndexes(0L, initial)
  }

  private def fresh(k: Int): Seq[Long] = {
    val ids = (nextId until nextId + k).toSeq
    nextId += k
    ids
  }

  /** Live, never-planted keys: the pool writes draw from. */
  private def pool: IndexedSeq[Long] =
    model.liveDocs.keys.filterNot(plantedIds.contains).toIndexedSeq.sorted

  private def writes(changeRows: collection.mutable.ArrayBuffer[Doc]): Unit = {
    val inserted = fresh(SmallRows).map(gen.doc(_))
    val next = model.gen + 1
    val (_, s0) = ctx.op("core.lakehouse.upsert") {
      Lakehouse.appendAt(spark, src, Lake.frame(spark, inserted), Lake.ZCols,
        gen = next, partitions = 1)
    }
    model.appendGen(inserted, next)
    changeRows ++= inserted
    ctx.sample("commit_s", s0)
    ctx.items(inserted.size, s0)
    Seq("S", "T", "L").foreach {
      case "T" =>
        val ids = gen.pick(pool, TakedownKeys, HotKeys)
        val live = model.liveDocs
        val (_, s) = ctx.op("core.lakehouse.delete") {
          Lakehouse.deleteMatching(spark, src, ids.toDF("doc_id"), "doc_id")
        }
        changeRows ++= ids.flatMap(live.get)
        gone ++= model.delete(ids)
        ctx.sample("commit_s", s)
        ctx.items(ids.size, s)
      case kind =>
        val rows = if (kind == "L") LargeRows else SmallRows
        val docs = (gen.pick(pool, rows - rows / 4, HotKeys) ++ fresh(rows / 4))
          .map(gen.doc(_))
        val (_, s) = ctx.op("core.lakehouse.upsert") {
          Lakehouse.upsertByKey(spark, src, Lake.frame(spark, docs), "doc_id",
            Lake.ZCols, partitions = if (kind == "L") 2 else 1)
        }
        model.upsert(docs)
        changeRows ++= docs
        ctx.items(docs.size, s)
        if (kind == "L") ctx.sample("upsert_rows_per_s", docs.size / s)
        else ctx.sample("commit_s", s)
    }
    maxDebt = math.max(maxDebt, model.debt)
  }

  private def relay(): Unit = {
    val to = model.gen
    val (win, landS) = ctx.op("core.lakehouse.land_changes") {
      Lakehouse.landChangesTracked(spark, src, feed, toGen = to)
    }
    val (from, _) = win.getOrElse(sys.error(s"no window to relay through gen $to"))
    val winDir = s"$feed/win${from}_$to"
    val (_, applyS) = ctx.op("core.lakehouse.apply_changes") {
      Lakehouse.applyChangesByKey(spark, replica, spark.read.parquet(winDir),
        "doc_id", Lake.ZCols, partitions = 1)
    }
    val (_, bmS) = ctx.op("llm.feed.bm25_apply") {
      FeedConsumer.applyFeedToBm25IndexTracked(spark, bm25Root, src, to)
    }
    val (_, vecS) = ctx.op("llm.feed.vector_apply") {
      FeedConsumer.applyFeedToVectorIndexTracked(spark, vecRoot, src, to,
        idCol = "doc_id")
    }
    ctx.sample("replica_lag_s", landS + applyS + bmS + vecS)

    val live = model.liveDocs
    Checks.rows("source scan", Lake.collect(Lakehouse.scan(spark, src)), live)
      .foreach(ctx.check(false, _))
    Checks.rows("replica scan", Lake.collect(Lakehouse.scan(spark, replica)), live)
      .foreach(ctx.check(false, _))
    val w = spark.read.parquet(winDir).select("doc_id", "__op").collect()
    val (expIns, expDel) = model.window(from, to)
    Checks.window(w.filter(_.getString(1) == "insert").map(_.getLong(0)).toSeq,
      w.filter(_.getString(1) == "delete").map(_.getLong(0)).toSeq, expIns, expDel)
      .foreach(ctx.check(false, _))
    // the tracked BM25 index scores like one built from scratch over the
    // live rows; the tracked vector index holds exactly the live ids
    val q = Seq((1L, s"${gen.word()} ${gen.word()}"), (2L, gen.word())).toDF(
      "query_id", "query_text")
    def scores(idx: Retrieval.Bm25Index) = Retrieval.bm25TopKAgainst(idx, q, k = 10)
      .collect().map(r => (r.getAs[Long]("query_id"), r.getAs[Long]("doc_id")) ->
        r.getAs[Double]("score")).toMap
    Checks.bm25Same(scores(FeedConsumer.loadTrackedBm25Index(spark, bm25Root)._1),
      scores(Retrieval.bm25Index(Lake.frame(spark, live.values.toSeq))))
      .foreach(ctx.check(false, _))
    val vecIds = FeedConsumer.loadTrackedVectorIndex(spark, vecRoot)._1.vectors
      .select("corpus_id").as[Long].collect().toSeq
    Checks.idSet("vector index ids", vecIds, live.keySet).foreach(ctx.check(false, _))
  }

  private def lookup(id: Long): Unit = {
    val (rows, s) = ctx.op("core.lakehouse.point_lookup") {
      Lake.collect(Lakehouse.pointLookup(spark, src, "doc_id", Seq(id)))
    }
    ctx.sample("lookup_s", s)
    hits += rows.size
    Checks.rows(s"lookup $id", rows, model.liveDocs.get(id).map(id -> _).toMap)
      .foreach(ctx.check(false, _))
  }

  private def scan(rnd: java.util.SplittableRandom): Unit = {
    val lo = rnd.nextInt(80).toDouble
    val nLo = rnd.nextInt(600000).toLong
    val box = Seq(("score", lit(lo), lit(lo + 20.0)), ("n", lit(nLo), lit(nLo + 400000L)))
    val (rows, s) = ctx.op("core.layout.pruned_scan") {
      Lake.collect(Lakehouse.prunedScan(spark, src, box))
    }
    ctx.sample("scan_s", s)
    rowsOut += rows.size
    val expected = model.liveDocs.filter { case (_, d) =>
      d.score >= lo && d.score <= lo + 20.0 && d.n >= nLo && d.n <= nLo + 400000L }
    Checks.rows("pruned scan", rows, expected).foreach(ctx.check(false, _))
  }

  private def catalog(): Unit = {
    val (rows, s) = ctx.op("core.lakehouse.describe_tables") {
      Lakehouse.describeTables(spark, root)
        .select("table", "current_gen", "delete_debt").collect()
    }
    ctx.sample("catalog_s", s)
    val got = rows.map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    ctx.check(got.keySet == Set("src", "replica"), s"describeTables lists ${got.keySet}")
    Checks.sameByKey("describeTables src", got.filter(_._1 == "src"),
      Map("src" -> ((model.gen, model.debt)))).foreach(ctx.check(false, _))
  }

  private def search(id: Long): Unit = {
    val (idx, _) = FeedConsumer.loadTrackedBm25Index(spark, bm25Root)
    // the planted term plus a word of the planted row's own text
    val word = model.liveDocs(id).text.split(" ").head
    val q = Seq((id, s"$word ${plantedTerm(id)}")).toDF("query_id", "query_text")
    val (ranked, s) = ctx.op("llm.retrieval.bm25_topk") {
      Retrieval.bm25TopKAgainst(idx, q, k = 10).orderBy("rank")
        .select("doc_id").as[Long].collect().toSeq
    }
    ctx.sample("search_s", s)
    Checks.plantedFirst(id, ranked, id).foreach(ctx.check(false, _))
  }

  private def ivf(): Unit = {
    val (idx, _) = FeedConsumer.loadTrackedVectorIndex(spark, vecRoot)
    val queries = Seq(-1L, -2L).map(q => Doc(q, "", gen.emb(), 0.0, 0L))
    val (res, _) = ctx.op("llm.similarity.ivf_topk") {
      Similarity.ivfTopKAgainst(idx, Lake.frame(spark, queries), 10,
        nprobe = NList, idCol = "doc_id").collect()
        .map(r => (r.getAs[Long]("query_id"), r.getAs[Int]("rank"),
          r.getAs[Long]("corpus_id"), r.getAs[Double]("sim"))).toSeq
    }
    val corpus = model.liveDocs.map { case (id, d) => id -> d.emb }
    queries.foreach { q =>
      val got = res.filter(_._1 == q.id).sortBy(_._2).map(x => (x._3, x._4))
      Checks.topKSame(q.id, got, Ref.cosineTopK(q.emb, corpus, 10))
        .foreach(ctx.check(false, _))
    }
  }

  private def reads(r: Int): Unit = {
    val rnd = new java.util.SplittableRandom(ctx.seed * 1000 + r)
    val live = model.liveDocs.keys.toIndexedSeq.sorted
    val deleted = gone.filterNot(model.isLive).toIndexedSeq.sorted
    val planted = plantedIds.toIndexedSeq.sorted
    val ops: Seq[() => Unit] = Seq(
      () => lookup(live(rnd.nextInt(live.size))),
      () => lookup(deleted(rnd.nextInt(deleted.size))),
      () => lookup(model.maxId + 1 + rnd.nextInt(1000000)),
      () => scan(rnd), () => catalog(),
      () => search(planted(rnd.nextInt(planted.size))),
      () => ivf())
    ops.map(o => (rnd.nextDouble(), o)).sortBy(_._1).foreach(_._2())
  }

  private def maintain(): Unit = {
    ctx.op("core.lakehouse.compact") { Lakehouse.compact(spark, src, Lake.ZCols) }
    model.compact()
    Checks.rows("scan after compact", Lake.collect(Lakehouse.scan(spark, src)),
      model.liveDocs).foreach(ctx.check(false, _))
    ctx.check(Lakehouse.deleteDebt(spark, src) == 0L, "delete debt after compact != 0")
    ctx.op("core.lakehouse.vacuum") { Lakehouse.vacuum(spark, src, graceMs = 0L) }
    (math.max(Lakehouse.snapshotFloor(spark, src), -1L) to
        Lakehouse.currentGen(spark, src)).foreach { g =>
      Checks.rows(s"scanAsOf($g) after vacuum",
        Lake.collect(Lakehouse.scanAsOf(spark, src, g)), model.asOf(g))
        .foreach(ctx.check(false, _))
    }
    rebootstrap = true
  }

  /** After a compact (a new epoch) the relay and the indexes bootstrap
    * again from the compacted table; the round that needs them next pays
    * for it. */
  private var rebootstrap = false
  private def rebootstrapRelay(): Unit = {
    epoch += 1
    ctx.op("core.lakehouse.land_changes") {
      Lakehouse.landChangesTracked(spark, src, feed, initFromGen = model.gen)
    }
    ctx.op("llm.feed.init") { initIndexes(model.gen, model.liveDocs.values.toSeq) }
    rebootstrap = false
  }

  def round(r: Int): Unit = {
    if (rebootstrap) rebootstrapRelay()
    val changeRows = collection.mutable.ArrayBuffer.empty[Doc]
    writes(changeRows)
    relay()
    ctx.sample("write_bytes", ctx.roundWritten.toDouble)
    ctx.sample("change_bytes", Lake.plainParquetBytes(spark, changeRows.toSeq,
      new File(base, s"yardstick/r$r")).toDouble)
    reads(r)
    maintain()
  }

  def figures: Seq[(String, Double, String)] = {
    val live = Lake.plainParquetBytes(spark, model.liveDocs.values.toSeq,
      new File(base, "yardstick/live"))
    val stored = Lake.du(new File(root).listFiles().toSeq
      .filter(_.getName.startsWith("src")))
    def p50ms(n: String) = Stats.median(ctx.samplesOf(n)) * 1e3
    Seq(
      ("upsert_rows_per_s", Stats.median(ctx.samplesOf("upsert_rows_per_s")), "rows/s"),
      ("commit_p50_ms", p50ms("commit_s"), "ms"),
      ("replica_lag_s", Stats.median(ctx.samplesOf("replica_lag_s")), "s"),
      ("write_amp", ctx.samplesOf("write_bytes").sum /
        ctx.samplesOf("change_bytes").sum, "ratio"),
      ("space_amp", stored.toDouble / live, "ratio"),
      ("lookup_p50_ms", p50ms("lookup_s"), "ms"),
      ("scan_p50_ms", p50ms("scan_s"), "ms"),
      ("search_p50_ms", p50ms("search_s"), "ms"),
      ("catalog_p50_ms", p50ms("catalog_s"), "ms"))
  }

  override def layerExtras(rounds: Int): Map[String, Double] = {
    val t = ctx.tracer.totals()
    def ratio(span: String, f: LayerTotals => Double, d: Double) =
      t.get(span).map(x => f(x) / math.max(1.0, d)).getOrElse(0.0)
    Map(
      "core.lakehouse.delete_debt_rows" -> maxDebt.toDouble,
      "core.lakehouse.point_lookup.files_per_hit" ->
        ratio("core.lakehouse.point_lookup", _.filesRead.toDouble, hits.toDouble),
      "core.layout.pruned_scan.rows_read_per_row_out" ->
        ratio("core.layout.pruned_scan", _.rowsRead.toDouble, rowsOut.toDouble))
  }
}
