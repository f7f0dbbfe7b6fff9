package lakebench

/** The document side of graft, without any lake-table work: the
  * `GraftDataset` lifecycle ([[Ingest]]) and then corpus dedup
  * ([[CorpusDedup]]), one after the other in each round. */
final class Documents(ctx: Ctx) extends Workload {
  private val parts = Seq(new Ingest(ctx), new CorpusDedup(ctx))
  def setup(): Unit = parts.foreach(_.setup())
  def round(r: Int): Unit = parts.foreach(_.round(r))
  def figures: Seq[(String, Double, String)] = parts.flatMap(_.figures)
  override def layerExtras(rounds: Int): Map[String, Double] =
    parts.map(_.layerExtras(rounds)).reduce(_ ++ _)
}
