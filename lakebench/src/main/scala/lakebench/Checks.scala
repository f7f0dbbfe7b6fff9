package lakebench

/** A row of the keyed lake table, as the benchmark models it. */
final case class Doc(id: Long, text: String, emb: Vector[Double],
                     score: Double, n: Long)

/** The checkers. Each takes outputs already collected from graft plus the
  * benchmark's own expectation and returns the failures it finds (empty
  * when the output is right), so each can be fed a corrupted output. */
object Checks {
  type Failures = Seq[String]

  private def firstFew[A](xs: Iterable[A]): String = xs.take(5).mkString(", ")

  /** Keyed equality of two maps, naming missing, extra and differing keys. */
  def sameByKey[K, V](what: String, actual: Map[K, V],
                      expected: Map[K, V]): Failures = {
    val missing = expected.keySet -- actual.keySet
    val extra = actual.keySet -- expected.keySet
    val differ = expected.keySet.intersect(actual.keySet)
      .filter(k => actual(k) != expected(k))
    Seq(
      if (missing.nonEmpty) Some(s"$what: ${missing.size} missing (${firstFew(missing)})") else None,
      if (extra.nonEmpty) Some(s"$what: ${extra.size} unexpected (${firstFew(extra)})") else None,
      if (differ.nonEmpty) Some(s"$what: ${differ.size} differ (${firstFew(
        differ.map(k => s"$k: ${actual(k)} vs expected ${expected(k)}"))})") else None
    ).flatten
  }

  // ------------------------------------------------------------ ingest

  /** `+`/`-` keys of the diff lines (`±key,hash,size`) against the
    * expected sets. */
  def diffKeys(what: String, lines: Seq[String], plus: Set[String],
               minus: Set[String]): Failures = {
    def keys(op: Char) = lines.filter(_.headOption.contains(op))
      .map(l => l.substring(1, l.indexOf(','))).toSet
    Seq(
      if (keys('+') != plus) Some(s"$what: + keys ${keys('+').size} != expected ${plus.size} (${firstFew((keys('+') -- plus) ++ (plus -- keys('+')))})") else None,
      if (keys('-') != minus) Some(s"$what: - keys ${keys('-').size} != expected ${minus.size} (${firstFew((keys('-') -- minus) ++ (minus -- keys('-')))})") else None
    ).flatten
  }

  /** Every document's blob sits at the content-addressed path its sha1
    * gives, and the bytes there hash to that sha1. `read` returns the
    * bytes at a path relative to the blob root, if any. */
  def blobs(docs: Map[String, (String, Long)],
            read: String => Option[Array[Byte]]): Failures = {
    val bad = docs.values.map(_._1).toSeq.distinct.filter { sha =>
      read(Ref.blobPath(sha)).forall(b => Ref.sha1(b) != sha)
    }
    if (bad.isEmpty) Nil
    else Seq(s"blobs: ${bad.size} missing or wrong (${firstFew(bad)})")
  }

  private def jsonLong(json: String, field: String): Option[Long] =
    s""""$field"\\s*:\\s*(\\d+)""".r.findFirstMatchIn(json).map(_.group(1).toLong)

  /** `index.json` entity count and total size against the manifest sums. */
  def indexJson(what: String, json: String, count: Long,
                bytes: Long): Failures = Seq(
    if (!jsonLong(json, "entity_count").contains(count))
      Some(s"$what: entity_count ${jsonLong(json, "entity_count")} != $count") else None,
    if (!jsonLong(json, "total_file_size").contains(bytes))
      Some(s"$what: total_file_size ${jsonLong(json, "total_file_size")} != $bytes") else None
  ).flatten

  /** One File entity per document: (id, fileName, contentHash, fileSize)
    * rows against the documents, with the id recomputed by `idRule`. */
  def entities(rows: Seq[(String, String, String, String)], dataset: String,
               docs: Map[String, (String, Long)],
               idRule: (String, String, String) => String): Failures = {
    val expected = docs.map { case (key, (sha, size)) =>
      idRule(dataset, key, sha) ->
        ((key.substring(key.lastIndexOf('/') + 1), sha, size.toString))
    }
    val actual = rows.map { case (id, f, h, s) => id -> ((f, h, s)) }
    val dupIds = actual.groupBy(_._1).filter(_._2.size > 1).keys
    (if (dupIds.nonEmpty) Seq(s"entities: duplicate ids (${firstFew(dupIds)})")
     else Nil) ++ sameByKey("entities", actual.toMap, expected)
  }

  // ------------------------------------------------------- lake tables

  def rows(what: String, actual: Seq[Doc], expected: Map[Long, Doc]): Failures = {
    val dup = actual.groupBy(_.id).filter(_._2.size > 1).keys
    (if (dup.nonEmpty) Seq(s"$what: duplicate ids (${firstFew(dup)})") else Nil) ++
      sameByKey(what, actual.map(d => d.id -> d).toMap, expected)
  }

  /** A change window's insert and delete ids against the model's. */
  def window(inserts: Seq[Long], deletes: Seq[Long], expIns: Set[Long],
             expDel: Set[Long]): Failures = Seq(
    if (inserts.toSet != expIns || inserts.size != expIns.size)
      Some(s"window: inserts ${inserts.size} != expected ${expIns.size} (${firstFew((inserts.toSet -- expIns) ++ (expIns -- inserts.toSet))})") else None,
    if (deletes.toSet != expDel || deletes.size != expDel.size)
      Some(s"window: deletes ${deletes.size} != expected ${expDel.size} (${firstFew((deletes.toSet -- expDel) ++ (expDel -- deletes.toSet))})") else None
  ).flatten

  /** BM25 results of a tracked index against those of an index built from
    * scratch: (query, doc) → score. */
  def bm25Same(tracked: Map[(Long, Long), Double],
               scratch: Map[(Long, Long), Double]): Failures =
    sameByKey("bm25 tracked vs rebuilt", tracked, scratch)

  def idSet(what: String, actual: Seq[Long], expected: Set[Long]): Failures =
    if (actual.size == expected.size && actual.toSet == expected) Nil
    else Seq(s"$what: ${actual.size} ids, expected ${expected.size} (${firstFew((actual.toSet -- expected) ++ (expected -- actual.toSet))})")

  /** A planted-term query must rank its planted document first. */
  def plantedFirst(query: Long, ranked: Seq[Long], planted: Long): Failures =
    if (ranked.headOption.contains(planted)) Nil
    else Seq(s"bm25 query $query: top ${ranked.headOption} != planted $planted")

  /** IVF top-k with every list probed against the exact cosine top-k:
    * same ids in the same order and sims within 1e-6. */
  def topKSame(query: Long, ivf: Seq[(Long, Double)],
               exact: Seq[(Long, Double)]): Failures =
    if (ivf.map(_._1) == exact.map(_._1) &&
        ivf.zip(exact).forall { case (a, b) => math.abs(a._2 - b._2) <= 1e-6 })
      Nil
    else Seq(s"ivf query $query: ${ivf.take(3)} != exact ${exact.take(3)}")

  // ------------------------------------------------------------ dedup

  /** The kept ids equal the input minus every non-minimal member of the
    * union-find components over the reported pairs. */
  def keptByComponents(input: Set[Long], pairs: Seq[(Long, Long)],
                       kept: Seq[Long]): Failures = {
    val comp = Ref.unionFind(pairs)
    val expected = input.filter(id => comp.getOrElse(id, id) == id)
    if (kept.size == expected.size && kept.toSet == expected) Nil
    else Seq(s"dedup: kept ${kept.size}, union-find over ${pairs.size} pairs keeps ${expected.size} (${firstFew((kept.toSet -- expected) ++ (expected -- kept.toSet))})")
  }

  /** Components returned by graft (id → component) against the
    * union-find over the same pairs. */
  def components(pairs: Seq[(Long, Long)], comps: Map[Long, Long]): Failures =
    sameByKey("components", comps, Ref.unionFind(pairs))

  /** Every reported pair's exact shingle Jaccard is at least
    * `threshold - tolerance`. */
  def pairJaccard(pairs: Seq[(Long, Long)], shingles: Long => Set[String],
                  threshold: Double, tolerance: Double): Failures = {
    val low = pairs.filter { case (i, j) =>
      Ref.jaccard(shingles(i), shingles(j)) < threshold - tolerance }
    if (low.isEmpty) Nil
    else Seq(s"dedup: ${low.size} pairs below ${threshold - tolerance} (${firstFew(low)})")
  }

  /** Every planted pair that must be caught ends in one component. */
  def plantedFound(planted: Seq[(Long, Long)], pairs: Seq[(Long, Long)]): Failures = {
    val comp = Ref.unionFind(pairs)
    val lost = planted.filter { case (i, j) =>
      comp.getOrElse(i, i) != comp.getOrElse(j, j) }
    if (lost.isEmpty) Nil
    else Seq(s"dedup: ${lost.size} planted pairs not found (${firstFew(lost)})")
  }

  /** No kept day-N document is a planted duplicate of the corpus. */
  def noPlantedKept(kept: Seq[Long], plantedDups: Set[Long]): Failures = {
    val bad = kept.filter(plantedDups.contains)
    if (bad.isEmpty) Nil
    else Seq(s"dedup against: ${bad.size} planted duplicates kept (${firstFew(bad)})")
  }
}
