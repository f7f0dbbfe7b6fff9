package lakebench

import org.scalatest.funsuite.AnyFunSuite

/** Each checker passes the right output and fails a corrupted one: a
  * dropped row, a wrong hash, a stale index entry, a wrong component. */
class ChecksSpec extends AnyFunSuite {

  private val manifest = Map("a/x.pdf" -> (("aa11", 10L)), "b.txt" -> (("bb22", 20L)))

  test("reference id rule reproduces the published File-entity vector") {
    assert(Ref.referenceEntityId("default", "utf.txt", "ch-root") ==
      "default-file-2928064cd9a743af30b720634dcffacdd84de23d")
  }

  test("documents: a dropped row and a wrong hash fail") {
    assert(Checks.sameByKey("docs", manifest, manifest).isEmpty)
    assert(Checks.sameByKey("docs", manifest - "b.txt", manifest).nonEmpty)
    assert(Checks.sameByKey("docs",
      manifest.updated("b.txt", ("bb23", 20L)), manifest).nonEmpty)
  }

  test("diff keys: a missing change fails") {
    val lines = Seq("+a/x.pdf,aa11,10", "+b.txt,bb22,20", "-b.txt,bb21,19")
    assert(Checks.diffKeys("diff", lines, Set("a/x.pdf", "b.txt"), Set("b.txt")).isEmpty)
    assert(Checks.diffKeys("diff", lines.take(2), Set("a/x.pdf", "b.txt"),
      Set("b.txt")).nonEmpty)
  }

  test("blobs: a blob with a wrong hash or at the wrong path fails") {
    val bytes = "hello".getBytes("UTF-8")
    val sha = Ref.sha1(bytes)
    val docs = Map("k" -> ((sha, 5L)))
    assert(Checks.blobs(docs, p => if (p == Ref.blobPath(sha)) Some(bytes) else None).isEmpty)
    assert(Checks.blobs(docs, _ => Some("hellO".getBytes("UTF-8"))).nonEmpty)
    assert(Checks.blobs(docs, p => if (p == sha) Some(bytes) else None).nonEmpty)
  }

  test("index.json and catalog: a wrong total fails") {
    val json = """{"name":"m","things":{"total":2},"entity_count":2,"total_file_size":30}"""
    assert(Checks.indexJson("index", json, 2, 30).isEmpty)
    assert(Checks.indexJson("index", json, 2, 31).nonEmpty)
    assert(Checks.sameByKey("catalog", Map("m" -> ((2L, 30L))), Map("m" -> ((2L, 30L)))).isEmpty)
    assert(Checks.sameByKey("catalog", Map("m" -> ((1L, 30L))), Map("m" -> ((2L, 30L)))).nonEmpty)
  }

  test("entities: a missing entity, a duplicate and a wrong id fail") {
    val rows = manifest.toSeq.map { case (k, (h, s)) =>
      (Ref.graftEntityId("m", k, h), k.split('/').last, h, s.toString) }
    assert(Checks.entities(rows, "m", manifest, Ref.graftEntityId).isEmpty)
    assert(Checks.entities(rows.tail, "m", manifest, Ref.graftEntityId).nonEmpty)
    assert(Checks.entities(rows :+ rows.head, "m", manifest, Ref.graftEntityId).nonEmpty)
    assert(Checks.entities(rows, "m", manifest, Ref.referenceEntityId).nonEmpty)
  }

  private def doc(id: Long) = Doc(id, s"text $id", Vector(1.0, 0.0), id.toDouble, id)

  test("table rows: a dropped row, a stale version and a resurrected row fail") {
    val model = new TableModel
    model.appendGen((1L to 3L).map(doc), 0L)
    model.upsert(Seq(doc(2).copy(text = "new")))
    model.delete(Seq(3L))
    val live = model.liveDocs
    val good = live.values.toSeq
    assert(Checks.rows("scan", good, live).isEmpty)
    assert(Checks.rows("scan", good.filter(_.id != 1L), live).nonEmpty)
    assert(Checks.rows("scan", good.map(d => if (d.id == 2L) doc(2) else d), live).nonEmpty)
    assert(Checks.rows("scan", good :+ doc(3), live).nonEmpty)
    // the generation model: gen 0 had all three, the upsert retracted 2@0
    assert(model.asOf(0L).keySet == Set(1L, 3L))
    assert(model.asOf(1L).keySet == Set(1L, 2L))
    assert(model.window(0L, 1L) == ((Set(2L), Set(3L))))
  }

  test("change window: a missing delete fails") {
    assert(Checks.window(Seq(2L), Seq(3L), Set(2L), Set(3L)).isEmpty)
    assert(Checks.window(Seq(2L), Nil, Set(2L), Set(3L)).nonEmpty)
  }

  test("tracked indexes: a stale score and a stale vector id fail") {
    val s = Map((1L, 2L) -> 1.5, (1L, 3L) -> 0.7)
    assert(Checks.bm25Same(s, s).isEmpty)
    assert(Checks.bm25Same(s.updated((1L, 3L), 0.8), s).nonEmpty)
    assert(Checks.idSet("vec", Seq(1L, 2L), Set(1L, 2L)).isEmpty)
    assert(Checks.idSet("vec", Seq(1L, 2L, 3L), Set(1L, 2L)).nonEmpty)
  }

  test("serving: a planted document not first and a wrong top-k fail") {
    assert(Checks.plantedFirst(7L, Seq(7L, 1L), 7L).isEmpty)
    assert(Checks.plantedFirst(7L, Seq(1L, 7L), 7L).nonEmpty)
    val corpus = Seq(1L -> Seq(1.0, 0.0), 2L -> Seq(0.6, 0.8), 3L -> Seq(0.0, 1.0))
    val exact = Ref.cosineTopK(Seq(1.0, 0.1), corpus, 2)
    assert(exact.map(_._1) == Seq(1L, 2L))
    assert(Checks.topKSame(-1L, exact, exact).isEmpty)
    assert(Checks.topKSame(-1L, exact.reverse, exact).nonEmpty)
  }

  test("dedup: a wrong component, a low pair, a lost planted pair fail") {
    val pairs = Seq((1L, 2L), (2L, 3L), (5L, 6L))
    val comps = Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 5L -> 5L, 6L -> 5L)
    assert(Checks.components(pairs, comps).isEmpty)
    assert(Checks.components(pairs, comps.updated(3L, 3L)).nonEmpty)
    val input = (1L to 7L).toSet
    assert(Checks.keptByComponents(input, pairs, Seq(1L, 4L, 5L, 7L)).isEmpty)
    assert(Checks.keptByComponents(input, pairs, Seq(1L, 3L, 4L, 5L, 7L)).nonEmpty)
    val text = Map(1L -> "a b c d e", 2L -> "a b c d f", 3L -> "x y z w v")
    assert(Checks.pairJaccard(Seq((1L, 2L)), id => Ref.shingles(text(id)), 0.8, 0.4).isEmpty)
    assert(Checks.pairJaccard(Seq((1L, 3L)), id => Ref.shingles(text(id)), 0.8, 0.2).nonEmpty)
    assert(Checks.plantedFound(Seq((1L, 3L)), pairs).isEmpty)
    assert(Checks.plantedFound(Seq((1L, 5L)), pairs).nonEmpty)
    assert(Checks.noPlantedKept(Seq(10L, 11L), Set(12L)).isEmpty)
    assert(Checks.noPlantedKept(Seq(10L, 12L), Set(12L)).nonEmpty)
  }

  test("BENCHMARK.json lists exactly the traced run's per-layer metrics") {
    val f = new java.io.File("../BENCHMARK.json")
    assume(f.isFile)
    val text = new String(java.nio.file.Files.readAllBytes(f.toPath), "UTF-8")
    val section = text.substring(text.indexOf("\"per_layer\""))
    val names = "\"name\"\\s*:\\s*\"([^\"]+)\"".r.findAllMatchIn(section)
      .map(_.group(1)).toSeq
    assert(names == Layers.all.map(_._1))
  }
}
