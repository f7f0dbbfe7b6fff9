package lakebench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.types._

/** The keyed table as plain Scala collections: every row version with the
  * generation it was born in and the generation its tombstone is stamped
  * with. This follows the table contract graft documents: an upsert
  * retracts the old versions at the current generation and lands the new
  * ones as the next; a takedown is stamped with the current generation;
  * `scanAsOf(g)` holds the versions born at or before `g` and not dead by
  * `g`; `compact` folds the live rows into one base (generation −1). */
final class TableModel {
  final class Ver(val doc: Doc, val born: Long) {
    var died: Long = Long.MaxValue
  }
  private val vers = mutable.ArrayBuffer.empty[Ver]
  private val live = mutable.LinkedHashMap.empty[Long, Ver]
  var gen: Long = -1L

  def appendGen(docs: Seq[Doc], g: Long): Unit = {
    docs.foreach { d =>
      require(!live.contains(d.id), s"appendGen over a live key ${d.id}")
      val v = new Ver(d, g); vers += v; live(d.id) = v
    }
    gen = math.max(gen, g)
  }

  def upsert(docs: Seq[Doc]): Unit = {
    docs.foreach(d => live.get(d.id).foreach(_.died = gen))
    gen += 1
    docs.foreach { d => val v = new Ver(d, gen); vers += v; live(d.id) = v }
  }

  /** Returns the ids that were live (those a takedown tombstones). */
  def delete(ids: Seq[Long]): Seq[Long] =
    ids.filter { id =>
      live.remove(id) match {
        case Some(v) => v.died = gen; true
        case None => false
      }
    }

  def compact(): Unit = {
    val rows = live.values.map(_.doc).toSeq
    vers.clear(); live.clear(); gen = -1L
    appendGen(rows, -1L)
  }

  def liveDocs: Map[Long, Doc] = live.map { case (k, v) => k -> v.doc }.toMap
  def isLive(id: Long): Boolean = live.contains(id)
  def maxId: Long = if (vers.isEmpty) -1L else vers.iterator.map(_.doc.id).max

  def asOf(g: Long): Map[Long, Doc] =
    vers.iterator.filter(v => v.born <= g && v.died > g)
      .map(v => v.doc.id -> v.doc).toMap

  /** Net ids of the `(from, to]` change window. */
  def window(from: Long, to: Long): (Set[Long], Set[Long]) = {
    val ins = vers.iterator.filter(v => v.born > from && v.born <= to &&
      v.died > to).map(_.doc.id).toSet
    val del = vers.iterator.filter(v => v.born <= from && v.died > from &&
      v.died <= to).map(_.doc.id).toSet
    (ins, del)
  }

  /** Tombstoned row versions since the last compact. */
  def debt: Long = vers.count(_.died != Long.MaxValue).toLong
}

/** Seeded rows for the keyed table: `doc_id`, a text of `words` words
  * drawn Zipf-like from a 2,000-word vocabulary, a unit `embedding` of
  * `dim` dimensions, a `score` in [0, 100) and a count `n` in [0, 10^6). */
final class DocGen(seed: Long, val dim: Int = 16, words: Int = 24) {
  private val rnd = new java.util.SplittableRandom(seed)
  val vocab: IndexedSeq[String] = (0 until 2000).map(i => s"w${Integer.toString(i, 36)}")
  private val cum: Array[Double] = {
    val w = (1 to vocab.size).map(r => 1.0 / r)
    w.scanLeft(0.0)(_ + _).tail.map(_ / w.sum).toArray
  }
  def word(): String = {
    val i = java.util.Arrays.binarySearch(cum, rnd.nextDouble())
    vocab(math.min(vocab.size - 1, if (i >= 0) i else -i - 1))
  }
  def text(): String = Seq.fill(words)(word()).mkString(" ")
  def emb(): Vector[Double] = {
    val v = Vector.fill(dim)(rnd.nextGaussian())
    val norm = math.sqrt(v.map(x => x * x).sum)
    v.map(_ / norm)
  }
  def doc(id: Long): Doc =
    Doc(id, text(), emb(), rnd.nextInt(100000) / 1000.0,
      rnd.nextInt(1000000).toLong)

  /** `k` distinct ids: with probability `hotShare` from the hot set (the
    * first `hotN` ids of `pool`), else uniform over `pool`. */
  def pick(pool: IndexedSeq[Long], k: Int, hotN: Int,
           hotShare: Double = 0.6): Seq[Long] = {
    val out = mutable.LinkedHashSet.empty[Long]
    val want = math.min(k, pool.size)
    while (out.size < want) {
      val i = if (rnd.nextDouble() < hotShare) rnd.nextInt(math.min(hotN, pool.size))
        else rnd.nextInt(pool.size)
      out += pool(i)
    }
    out.toSeq
  }
}

object Lake {
  val ZCols = Seq("score", "n")
  val schema: StructType = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("text", StringType),
    StructField("embedding", ArrayType(DoubleType)),
    StructField("score", DoubleType),
    StructField("n", LongType)))

  def frame(spark: SparkSession, docs: Seq[Doc]): DataFrame =
    spark.createDataFrame(spark.sparkContext.parallelize(
      docs.map(d => Row(d.id, d.text, d.emb, d.score, d.n)), 1), schema)

  def collect(df: DataFrame): Seq[Doc] =
    df.select("doc_id", "text", "embedding", "score", "n").collect().toSeq
      .map(r => Doc(r.getLong(0), r.getString(1),
        r.getSeq[Double](2).toVector, r.getDouble(3), r.getLong(4)))

  /** Bytes of the `.parquet` files under `dir` (checksums excluded). */
  def parquetBytes(dir: java.io.File): Long =
    Option(dir.listFiles()).toSeq.flatten
      .filter(f => f.isFile && f.getName.endsWith(".parquet")).map(_.length).sum

  /** Every byte under the paths (recursively). */
  def du(paths: Seq[java.io.File]): Long = paths.map { p =>
    if (!p.exists()) 0L
    else java.nio.file.Files.walk(p.toPath).filter(java.nio.file.Files.isRegularFile(_))
      .mapToLong(java.nio.file.Files.size(_)).sum()
  }.sum

  /** The rows written once as plain Parquet in one file: the benchmark's
    * yardstick for write and space amplification. */
  def plainParquetBytes(spark: SparkSession, docs: Seq[Doc],
                        dir: java.io.File): Long = {
    frame(spark, docs).coalesce(1).write.mode("overwrite").parquet(dir.getAbsolutePath)
    parquetBytes(dir)
  }
}
