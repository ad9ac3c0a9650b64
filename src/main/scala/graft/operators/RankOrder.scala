package graft.operators

import org.apache.spark.sql.catalyst.util.SQLOrderingUtil

/** The per-query rank order of the search windows, `score DESC NULLS
  * LAST, id`, for the rankings made on the driver: the probe's centroids
  * ([[IvfIndex]]), and served IVF and BM25 hits.
  */
private[operators] object RankOrder {

  /** Spark SQL's double ordering: NaN above every number, -0.0 = 0.0. */
  val sqlDouble: Ordering[Double] = (x, y) => SQLOrderingUtil.compareDoubles(x, y)

  /** `score DESC NULLS LAST, id` over (score, id) keys; None is a NULL
    * score.
    */
  def scoreDescThenId[S](score: Ordering[S]): Ordering[(Option[S], Long)] = (x, y) =>
    (x._1, y._1) match {
      case (Some(a), Some(b)) if score.compare(a, b) != 0 => score.compare(b, a)
      case (Some(_), None) => -1
      case (None, Some(_)) => 1
      case _ => java.lang.Long.compare(x._2, y._2)
    }
}
