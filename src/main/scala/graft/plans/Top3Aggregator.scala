package graft.plans

import org.apache.spark.sql.Encoder
import org.apache.spark.sql.expressions.Aggregator

/** Typed `Aggregator` embodiment of A3 "latest 3 per key" (SURVEY.md
  * §2.9: the extension surface's custom-UDAF path): a bounded top-K
  * buffer with map-side partial aggregation — at 100 TB the shuffle
  * carries ≤3 rows per key per map task instead of the whole group.
  *
  * Ordering: (ts_us desc, event_id desc), the same total order as the
  * ranking-window twin (`a3_top3_per_key`), so both match one oracle.
  */
object Top3Aggregator {

  final case class EvRow(event_id: Long, ts_us: Long, user_id: Long,
                         value: Double)

  private def top3(rows: List[EvRow]): List[EvRow] =
    rows.sortBy(e => (-e.ts_us, -e.event_id)).take(3)

  val agg: Aggregator[EvRow, List[EvRow], List[EvRow]] =
    new Aggregator[EvRow, List[EvRow], List[EvRow]] {
      override def zero: List[EvRow] = Nil
      override def reduce(b: List[EvRow], a: EvRow): List[EvRow] = top3(a :: b)
      override def merge(b1: List[EvRow], b2: List[EvRow]): List[EvRow] =
        top3(b1 ++ b2)
      override def finish(r: List[EvRow]): List[EvRow] = r
      override def bufferEncoder: Encoder[List[EvRow]] = listEncoder
      override def outputEncoder: Encoder[List[EvRow]] = listEncoder
    }

  private lazy val listEncoder: Encoder[List[EvRow]] = {
    import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
    ExpressionEncoder[List[EvRow]]()
  }
}
