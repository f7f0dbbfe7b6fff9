package lakebench

import java.io.File
import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import org.apache.spark.sql.functions._

import graft.{GraftArchive, GraftDataset}
import graft.core.Rebuild
import graft.pipelines.{ArchiveCopy, Crawl, Entities, Make}

/** A generated source tree: key → bytes, written under a directory. */
final case class Tree(files: Map[String, Array[Byte]]) {
  lazy val manifest: Map[String, (String, Long)] =
    files.map { case (k, b) => k -> ((Ref.sha1(b), b.length.toLong)) }
  def totalBytes: Long = files.values.map(_.length.toLong).sum
  def writeTo(dir: File): String = {
    files.foreach { case (k, b) =>
      val f = new File(dir, k)
      f.getParentFile.mkdirs()
      Files.write(f.toPath, b)
    }
    dir.getAbsolutePath
  }
}

/** The ingest inputs: a day-1 tree and a day-2 tree that gained, changed
  * and lost files.
  *
  * Make-up: `n` files at 0–3 directory levels; extensions pdf, txt, html,
  * csv, docx, png, eml, json, bin. File `i` is 64 B–4 KiB for six in ten
  * indexes, 4–64 KiB for three and 64–256 KiB for one, its size fixed by
  * the index alone so every seed moves the same bytes. Day 2 adds 10% new
  * files, rewrites every tenth file with new bytes of the same size and
  * deletes every twentieth. The seed draws directories, extensions and
  * contents. */
object TreeGen {
  private val exts = Seq("pdf", "txt", "html", "csv", "docx", "png", "eml",
    "json", "bin")

  private def size(i: Int): Int = {
    val f = (i * 0.6180339887498949) % 1.0
    i % 10 match {
      case 0 => 65536 + (f * (262144 - 65536)).toInt
      case 1 | 2 | 3 => 4096 + (f * (65536 - 4096)).toInt
      case _ => 64 + (f * (4096 - 64)).toInt
    }
  }

  private def bytes(rnd: java.util.SplittableRandom, ext: String, n: Int): Array[Byte] = {
    val b = new Array[Byte](n)
    if (Set("txt", "html", "csv", "json", "eml").contains(ext))
      for (i <- b.indices) b(i) = (32 + rnd.nextInt(95)).toByte
    else for (i <- b.indices) b(i) = rnd.nextInt(256).toByte
    b
  }

  private def file(rnd: java.util.SplittableRandom, i: Int, tag: String): (String, Array[Byte]) = {
    val dirs = (0 until rnd.nextInt(4)).map(l => s"l$l-d${rnd.nextInt(4)}")
    val ext = exts(rnd.nextInt(exts.size))
    (dirs :+ f"$tag$i%05d.$ext").mkString("/") -> bytes(rnd, ext, size(i))
  }

  private def ext(key: String) = key.substring(key.lastIndexOf('.') + 1)

  def trees(seed: Long, n: Int, tag: String = "f")
      : (Tree, Tree, Set[String], Set[String], Set[String]) = {
    val rnd = new java.util.SplittableRandom(seed)
    val day1 = (0 until n).map(file(rnd, _, tag))
    val changed = day1.indices.filter(_ % 10 == 2).map(day1(_)._1).toSet
    val deleted = day1.indices.filter(_ % 20 == 7).map(day1(_)._1).toSet
    val added = (n until n + n / 10).map(file(rnd, _, tag)).toMap
    val day2 = day1.map { case (k, b) =>
      if (changed.contains(k)) k -> bytes(rnd, ext(k), b.length) else k -> b
    }.toMap -- deleted ++ added
    (Tree(day1.toMap), Tree(day2), added.keySet, changed, deleted)
  }
}

/** The `GraftDataset` lifecycle over a generated tree of 160 files:
  * day-1 `crawl`, day-2 `make`, `writeEntities`, then
  * `GraftArchive.makeCatalog` over the day's dataset and a 16-file side
  * dataset that set-up crawled. Each round runs in a fresh archive
  * directory. */
final class Ingest(ctx: Ctx) extends Workload {
  import ctx.spark

  val NFiles = 160
  val SideFiles = 16
  private val (day1, day2, added, changed, deleted) = TreeGen.trees(ctx.seed, NFiles)
  private val sides = Seq("side" -> TreeGen.trees(ctx.seed * 31 + 1, SideFiles, "s")._1)
  private var day1Dir, day2Dir, templateDir = ""

  def setup(): Unit = {
    val base = new File(ctx.dir("setup"))
    day1Dir = day1.writeTo(new File(base, "day1"))
    day2Dir = day2.writeTo(new File(base, "day2"))
    templateDir = ctx.dir("setup", "template")
    val archive = new GraftArchive(spark, templateDir)
    sides.foreach { case (name, tree) =>
      val src = tree.writeTo(new File(base, name))
      archive.dataset(name).crawl(src, versionTs = "v1")
    }
  }

  private def copyTree(from: Path, to: Path): Unit =
    Files.walk(from).forEach { p =>
      val dst = to.resolve(from.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(dst)
      else Files.copy(p, dst, StandardCopyOption.REPLACE_EXISTING)
    }

  private def docsOf(ds: GraftDataset): Map[String, (String, Long)] =
    ds.documents.select("key", "content_hash", "size").collect()
      .map(r => r.getString(0) -> ((r.getString(1), r.getLong(2)))).toMap

  private def readString(path: String): String =
    new String(java.nio.file.Files.readAllBytes(Paths.get(path)), "UTF-8")

  private def checkDay(what: String, ds: GraftDataset, tree: Tree,
                       plus: Set[String], minus: Set[String], ts: String): Unit = {
    Checks.sameByKey(s"$what documents", docsOf(ds), tree.manifest)
      .foreach(ctx.check(false, _))
    Checks.diffKeys(s"$what diff", ds.versionDiff(ts), plus, minus)
      .foreach(ctx.check(false, _))
    Checks.indexJson(s"$what index.json", readString(s"${ds.metaRoot}/index.json"),
      tree.files.size, tree.totalBytes).foreach(ctx.check(false, _))
  }

  /** `GraftDataset.crawl`, or in the traced run the public functions it is
    * built from, in its order and with its parameters. */
  private def crawl(ds: GraftDataset, src: String, ts: String): Unit =
    if (!ctx.tracer.enabled) ds.crawl(src, versionTs = ts)
    else {
      val existing = ds.documents
      val fresh = ctx.tracer.span("pipelines.crawl") {
        val f = Crawl.crawl(spark, src, existing, None, None).cache()
        ArchiveCopy.copyBlobs(spark, f, src, ds.blobRoot)
        f.count()
        f
      }
      ctx.tracer.span("graft.publish") {
        ds.publish(Rebuild.rebuild(existing, fresh, fresh.limit(0)), ts)
      }
    }

  /** `GraftDataset.make`, decomposed the same way in the traced run. */
  private def make(ds: GraftDataset, src: String, ts: String): Unit =
    if (!ctx.tracer.enabled) ds.make(src, versionTs = ts)
    else {
      val rec = ctx.tracer.span("pipelines.make") {
        val source = Crawl.hashAndDescribe(spark, src,
          Crawl.listKeys(spark, src), ds.checksumAlgorithm)
        val r = Make.reconcile(source, ds.documents).cache()
        Make.status(r).collect()
        r
      }
      ctx.tracer.span("graft.publish") { ds.publish(Make.healed(rec), ts) }
    }

  def round(r: Int): Unit = {
    val lake = ctx.dir("rounds", s"r$r")
    sides.foreach { case (n, _) =>
      copyTree(Paths.get(templateDir, n), Paths.get(lake, n)) }
    val archive = new GraftArchive(spark, lake)
    val ds = archive.dataset("main")

    val (_, crawlS) = ctx.op("graft.crawl") { crawl(ds, day1Dir, "d1") }
    ctx.sample("crawl_files_per_s", day1.files.size / crawlS)
    ctx.items(day1.files.size, crawlS)
    checkDay("day 1", ds, day1, day1.files.keySet, Set.empty, "d1")
    Checks.blobs(day1.manifest, rel => {
      val f = new File(ds.blobRoot, rel)
      if (f.isFile) Some(java.nio.file.Files.readAllBytes(f.toPath)) else None
    }).foreach(ctx.check(false, _))

    val (_, makeS) = ctx.op("graft.make") { make(ds, day2Dir, "d2") }
    ctx.sample("make_s", makeS)
    ctx.items(day2.files.size, makeS)
    checkDay("day 2", ds, day2, added ++ changed, deleted ++ changed, "d2")

    ctx.op("pipelines.entities") { ds.writeEntities() }
    val ents = spark.read.json(s"${ds.metaRoot}/entities.ftm.json")
      .select(col("id"), col("properties.fileName")(0),
        col("properties.contentHash")(0), col("properties.fileSize")(0))
      .collect().map(r => (r.getString(0), r.getString(1), r.getString(2),
        r.getString(3))).toSeq
    Checks.entities(ents, "main", day2.manifest, Ref.graftEntityId)
      .foreach(ctx.check(false, _))

    val (cat, _) = ctx.op("graft.catalog") { archive.makeCatalog() }
    val catRows = cat.select("dataset", "file_count", "total_file_size")
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    val expected = (("main" -> day2) +: sides).map { case (n, t) =>
      n -> ((t.files.size.toLong, t.totalBytes)) }.toMap
    Checks.sameByKey("catalog", catRows, expected).foreach(ctx.check(false, _))

    // The reference's id rule, pinned by its published vector, on fixed
    // inputs: graft derives File ids from a JSON-array serialization
    // instead, so this operation fails on every round.
    ctx.knownFaultOp("File entity id against the reference vector " +
        "default-file-2928064cd9a743af30b720634dcffacdd84de23d") {
      import spark.implicits._
      val doc = Seq(("utf.txt", "ch-root")).toDF("key", "content_hash")
        .withColumn("size", lit(19L)).withColumn("mimetype", lit("text/plain"))
      val id = Entities.fromDocuments(doc, "default").select("id").head().getString(0)
      require(Ref.referenceEntityId("default", "utf.txt", "ch-root") ==
        "default-file-2928064cd9a743af30b720634dcffacdd84de23d")
      id == Ref.referenceEntityId("default", "utf.txt", "ch-root")
    }
  }

  def figures: Seq[(String, Double, String)] = Seq(
    ("crawl_files_per_s", Stats.median(ctx.samplesOf("crawl_files_per_s")), "files/s"),
    ("make_s", Stats.median(ctx.samplesOf("make_s")), "s"))
}
