package graftbench

import org.apache.spark.sql.Row

import graft.gen.ProductEvent

/** The gold table recomputed in plain Scala from the generated events,
  * independent of Spark: first-wins dedup on eventId (replays are exact
  * copies, so any winner is equivalent), the `>= dayStart` filter, then
  * the (type, color, size) product mix. v1 events group under null
  * color/size and add nothing to count_color/count_size. The `last`
  * column is left out: Spark's `last` depends on row order.
  */
object ExpectedGold {

  final case class GoldRow(tpe: String, color: Option[String], size: Option[String],
                           countType: Long, countColor: Long, countSize: Long,
                           lastEventSec: Long)

  /** Incrementally fed dedup state, so the incremental workload's check
    * stays O(arrival) per trigger on the driver.
    */
  final class State {
    private val firstPer = scala.collection.mutable.HashMap.empty[String, ProductEvent]
    def add(events: Iterable[ProductEvent]): Unit =
      events.foreach(e => if (!firstPer.contains(e.eventId)) firstPer(e.eventId) = e)
    def gold(dayStartSec: Long): Set[GoldRow] =
      firstPer.valuesIterator.filter(_.timestamp >= dayStartSec).toSeq
        .groupBy(e => (e.productType, e.color, e.size))
        .map { case ((t, c, s), es) =>
          GoldRow(t, c, s, es.size.toLong, es.count(_.color.isDefined).toLong,
            es.count(_.size.isDefined).toLong, es.map(_.timestamp).max)
        }.toSet
  }

  def of(events: Iterable[ProductEvent], dayStartSec: Long): Set[GoldRow] = {
    val s = new State
    s.add(events)
    s.gold(dayStartSec)
  }

  def fromSpark(rows: Array[Row]): Set[GoldRow] = rows.map { r =>
    GoldRow(r.getAs[String]("type"), Option(r.getAs[String]("color")),
      Option(r.getAs[String]("size")), r.getAs[Long]("count_type"),
      r.getAs[Long]("count_color"), r.getAs[Long]("count_size"),
      r.getAs[java.sql.Timestamp]("last_event_time").getTime / 1000L)
  }.toSet

  /** None when equal, else a one-line description of the difference. */
  def diff(expected: Set[GoldRow], actual: Set[GoldRow]): Option[String] =
    if (expected == actual) None
    else {
      val missing = (expected -- actual).take(2)
      val extra = (actual -- expected).take(2)
      Some(s"gold mismatch: ${expected.size} expected rows, ${actual.size} actual; " +
        s"missing ${missing.mkString(" ")}; unexpected ${extra.mkString(" ")}")
    }
}
