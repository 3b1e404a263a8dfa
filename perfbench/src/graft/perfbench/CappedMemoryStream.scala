package graft.perfbench

import org.apache.spark.sql.{Encoder, SparkSession}
import org.apache.spark.sql.connector.read.streaming.{Offset, ReadLimit, SupportsAdmissionControl}
import org.apache.spark.sql.execution.streaming.runtime.{LongOffset, MemoryStream}

/** A Kafka-shaped record: key = city name bytes, value = payload JSON. */
final case class KafkaRec(key: Array[Byte], value: String, topic: String)

/** In-memory stream source with the Kafka source's admission control: at
  * most `cap` offsets per trigger (`maxOffsetsPerTrigger`). Every record is
  * added as its own offset, as a Kafka partition numbers its messages; a
  * trigger's records are read as `partitions` input partitions (one per
  * topic partition).
  */
final class CappedMemoryStream[A: Encoder](spark: SparkSession, cap: Long, partitions: Int)
    extends MemoryStream[A](CappedMemoryStream.nextId.getAndIncrement(), spark, Some(partitions))
    with SupportsAdmissionControl {

  /** Add records as one arrival, as a producer's flush delivers them: a
    * trigger sees all of them or none (each is still its own offset).
    */
  def addRecords(as: Seq[A]): Unit = synchronized(as.foreach(a => addData(Seq(a))))

  override def getDefaultReadLimit: ReadLimit = ReadLimit.maxRows(cap)

  /** The newest offset, so trigger progress shows the backlog. */
  override def reportLatestOffset(): Offset = LongOffset(synchronized(currentOffset.offset))

  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    val latest = synchronized(currentOffset.offset)
    val from = Option(start).map(_.json().toLong).getOrElse(-1L)
    LongOffset(math.min(latest, from + cap))
  }
}

object CappedMemoryStream {
  /** Source ids apart from the ones MemoryStream hands out itself. */
  private[perfbench] val nextId = new java.util.concurrent.atomic.AtomicInteger(1 << 20)
}
