package lakebench

import scala.collection.mutable

/** Reference computations made apart from graft: hashes, shingles,
  * Jaccard, union-find, cosine top-k and the File-entity id rules. */
object Ref {
  def hex(bytes: Array[Byte]): String = bytes.map("%02x".format(_)).mkString

  def sha1(bytes: Array[Byte]): String =
    hex(java.security.MessageDigest.getInstance("SHA-1").digest(bytes))

  def sha1(s: String): String = sha1(s.getBytes("UTF-8"))

  /** Content-addressed blob path `ab/cd/ef/<sha1>` under a blob root. */
  def blobPath(sha: String): String =
    s"${sha.substring(0, 2)}/${sha.substring(2, 4)}/${sha.substring(4, 6)}/$sha"

  /** The reference's File-entity id: `<dataset>-file-` plus the sha1 of the
    * Python repr of the `(key, content_hash)` tuple. The vector
    * `default-file-2928064cd9a743af30b720634dcffacdd84de23d` for
    * (`utf.txt`, `ch-root`) pins it. Keys without quotes or backslashes
    * only (the generator writes no others). */
  def referenceEntityId(dataset: String, key: String, hash: String): String =
    s"$dataset-file-${sha1(s"('$key', '$hash')")}"

  /** The id rule graft documents for `fileEntityId`: the sha1 of the
    * compact JSON array `["key","hash"]`. */
  def graftEntityId(dataset: String, key: String, hash: String): String =
    s"$dataset-file-${sha1(s"""["$key","$hash"]""")}"

  /** Distinct word n-grams (whitespace-separated words). */
  def shingles(text: String, n: Int = 3): Set[String] = {
    val w = text.trim.split("\\s+")
    if (w.length <= n) Set(w.mkString(" "))
    else w.sliding(n).map(_.mkString(" ")).toSet
  }

  def jaccard(a: Set[String], b: Set[String]): Double = {
    val inter = a.count(b.contains)
    val union = a.size + b.size - inter
    if (union == 0) 1.0 else inter.toDouble / union
  }

  /** Connected components of `pairs`: id → smallest id reachable. */
  def unionFind(pairs: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = mutable.HashMap.empty[Long, Long]
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    pairs.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) { if (ra < rb) parent(rb) = ra else parent(ra) = rb }
    }
    parent.keys.toSeq.map(k => k -> find(k)).toMap
  }

  def cosine(a: Seq[Double], b: Seq[Double]): Double = {
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < a.length) {
      dot += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1
    }
    dot / (math.sqrt(na) * math.sqrt(nb))
  }

  /** Exact cosine top-k over `corpus`: (id, sim) best first, ties to the
    * smaller id. */
  def cosineTopK(q: Seq[Double], corpus: Iterable[(Long, Seq[Double])],
                 k: Int): Seq[(Long, Double)] =
    corpus.iterator.map { case (id, v) => (id, cosine(q, v)) }.toSeq
      .sortBy { case (id, s) => (-s, id) }.take(k)
}
