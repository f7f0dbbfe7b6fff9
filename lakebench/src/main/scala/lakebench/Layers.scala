package lakebench

/** The per-layer metrics of the traced run. A metric `<span>.<field>` is
  * read from the spans named `<span>`, totalled over the run and divided
  * by the number of rounds, so it reads per round; ratios are ratios of
  * run totals. A layer a workload does not call reads 0 there.
  *
  * Fields: `self_s` span time minus child spans; `jobs` Spark jobs;
  * `gap_s` self time with no job of the span running (driver planning and
  * file-system work); `tasks`; `shuffle_bytes` shuffle bytes written;
  * `input_bytes`/`output_bytes`/`fs_ops`/`fs_write_ops` Hadoop FileSystem
  * statistics deltas; `files_read` files read by the scan nodes of the
  * executed plans. */
object Layers {
  private val s = "s"; private val n = "count"; private val b = "bytes"
  private val r = "ratio"

  /** (name, unit). Lower is better for every one except
    * `pipelines.crawl.input_bytes`, which counts bytes the crawl must
    * read and is reported for attribution. */
  val all: Seq[(String, String)] = Seq(
    "spark.jobs" -> n, "spark.job_s" -> s, "spark.gap_s" -> s,
    "spark.tasks" -> n, "spark.shuffle_bytes" -> b, "jvm.gc_s" -> s,
    "pipelines.crawl.self_s" -> s, "pipelines.crawl.jobs" -> n,
    "pipelines.crawl.input_bytes" -> b, "pipelines.crawl.fs_write_ops" -> n,
    "pipelines.make.self_s" -> s, "pipelines.make.jobs" -> n,
    "pipelines.make.shuffle_bytes" -> b,
    "graft.publish.self_s" -> s, "graft.publish.jobs" -> n,
    "graft.publish.gap_s" -> s, "graft.publish.output_bytes" -> b,
    "pipelines.entities.self_s" -> s, "pipelines.entities.jobs" -> n,
    "graft.catalog.self_s" -> s, "graft.catalog.jobs" -> n,
    "core.lakehouse.upsert.self_s" -> s, "core.lakehouse.upsert.jobs" -> n,
    "core.lakehouse.upsert.gap_s" -> s, "core.lakehouse.upsert.fs_ops" -> n,
    "core.lakehouse.upsert.output_bytes" -> b,
    "core.lakehouse.delete.self_s" -> s, "core.lakehouse.delete.jobs" -> n,
    "core.lakehouse.land_changes.self_s" -> s,
    "core.lakehouse.land_changes.jobs" -> n,
    "core.lakehouse.apply_changes.self_s" -> s,
    "core.lakehouse.apply_changes.jobs" -> n,
    "core.lakehouse.apply_changes.gap_s" -> s,
    "llm.feed.bm25_apply.self_s" -> s, "llm.feed.bm25_apply.jobs" -> n,
    "llm.feed.bm25_apply.gap_s" -> s,
    "llm.feed.vector_apply.self_s" -> s, "llm.feed.vector_apply.jobs" -> n,
    "llm.feed.vector_apply.gap_s" -> s,
    "core.lakehouse.compact.self_s" -> s,
    "core.lakehouse.compact.output_bytes" -> b,
    "core.lakehouse.vacuum.self_s" -> s, "core.lakehouse.vacuum.fs_ops" -> n,
    "core.lakehouse.delete_debt_rows" -> n,
    "core.lakehouse.point_lookup.self_s" -> s,
    "core.lakehouse.point_lookup.jobs" -> n,
    "core.lakehouse.point_lookup.files_read" -> n,
    "core.lakehouse.point_lookup.files_per_hit" -> r,
    "core.lakehouse.describe_tables.self_s" -> s,
    "core.lakehouse.describe_tables.jobs" -> n,
    "core.layout.pruned_scan.self_s" -> s,
    "core.layout.pruned_scan.files_read" -> n,
    "core.layout.pruned_scan.rows_read_per_row_out" -> r,
    "llm.retrieval.bm25_topk.self_s" -> s, "llm.retrieval.bm25_topk.jobs" -> n,
    "llm.retrieval.bm25_topk.shuffle_bytes" -> b,
    "llm.similarity.ivf_topk.self_s" -> s, "llm.similarity.ivf_topk.jobs" -> n,
    "llm.dedup.pairs.self_s" -> s, "llm.dedup.pairs.jobs" -> n,
    "llm.dedup.pairs.shuffle_bytes" -> b,
    "llm.dedup.components.self_s" -> s, "llm.dedup.components.jobs" -> n,
    "llm.dedup.components.tasks" -> n, "llm.dedup.drop.self_s" -> s,
    "llm.dedup.against.self_s" -> s, "llm.dedup.against.jobs" -> n)

  /** Ratios and counts a workload supplies through [[Workload.layerExtras]]
    * (already per round or already a ratio). */
  val fromWorkload: Set[String] = Set(
    "core.lakehouse.delete_debt_rows",
    "core.lakehouse.point_lookup.files_per_hit",
    "core.layout.pruned_scan.rows_read_per_row_out")

  def field(t: LayerTotals, f: String): Double = f match {
    case "self_s" => t.selfS
    case "jobs" => t.jobs
    case "gap_s" => t.gapS
    case "tasks" => t.tasks.toDouble
    case "shuffle_bytes" => t.shuffleBytes.toDouble
    case "input_bytes" => t.fs.read.toDouble
    case "output_bytes" => t.fs.written.toDouble
    case "fs_ops" => t.fs.ops.toDouble
    case "fs_write_ops" => t.fs.writeOps.toDouble
    case "files_read" => t.filesRead.toDouble
    case other => sys.error(s"unknown layer field $other")
  }

  def metrics(tracer: Tracer, rounds: Int, gcS: Double,
              extras: Map[String, Double]): Seq[(String, Double, String)] = {
    // Spark totals over the operation spans only: the enclosing "round"
    // span's own jobs are the untimed checks
    val ops = tracer.totals().filter(_._1 != "round")
    val totals = ops
    val perRound: Map[String, Double] = Map(
      "spark.jobs" -> ops.values.map(_.jobs).sum.toDouble,
      "spark.job_s" -> ops.values.map(_.jobS).sum,
      "spark.gap_s" -> ops.values.map(_.gapS).sum,
      "spark.tasks" -> ops.values.map(_.tasks).sum.toDouble,
      "spark.shuffle_bytes" -> ops.values.map(_.shuffleBytes).sum.toDouble,
      "jvm.gc_s" -> gcS)
    all.map { case (name, unit) =>
      val v =
        if (fromWorkload.contains(name)) extras.getOrElse(name, 0.0)
        else perRound.get(name).map(_ / rounds).getOrElse {
          val i = name.lastIndexOf('.')
          totals.get(name.substring(0, i))
            .map(t => field(t, name.substring(i + 1)) / rounds).getOrElse(0.0)
        }
      (name, v, unit)
    }
  }
}
