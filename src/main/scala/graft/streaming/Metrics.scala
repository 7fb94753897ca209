package graft.streaming

import java.util.concurrent.ConcurrentLinkedQueue

import org.apache.spark.sql.streaming.StreamingQueryListener

/** Op 8/10 metrics path (SURVEY §2.A): the reference pushes `ThroughPut`
  * and `ReplicationLagSeconds` per batch to CloudWatch
  * (Handler.java:100-122); here the numbers come from `Dataset.observe`
  * (zero cost on the data path) and a [[StreamingQueryListener]] consumes
  * them per micro-batch — the Spark-idiomatic "metrics sink". Failures in
  * a listener never affect the query, matching the reference's swallowed
  * metric errors (Handler.java:120-122).
  */
final case class ObservedBatch(
    batchId: Long,
    records: Long,
    lastArrivalMs: Long,
    replicationLagSeconds: Double)

class ObservedMetricsListener(observationName: String)
    extends StreamingQueryListener {

  /** Collected per-batch metrics (thread-safe; listeners fire async). */
  val batches = new ConcurrentLinkedQueue[ObservedBatch]()

  override def onQueryStarted(event: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(event: StreamingQueryListener.QueryTerminatedEvent): Unit = ()

  override def onQueryProgress(event: StreamingQueryListener.QueryProgressEvent): Unit = {
    val p = event.progress
    val obs = p.observedMetrics
    if (obs.containsKey(observationName)) {
      val row = obs.get(observationName)
      if (!row.isNullAt(0) && row.getLong(0) > 0) {
        val records = row.getLong(0)
        val lastArrival = Option(row.getAs[java.sql.Timestamp]("lastArrival"))
        val lastMs = lastArrival.map(_.getTime).getOrElse(0L)
        val lagSec = lastArrival
          .map(t => (p.timestamp match {
            case null => System.currentTimeMillis()
            case ts => java.time.Instant.parse(ts).toEpochMilli
          }) - t.getTime)
          .map(_ / 1000.0).getOrElse(0.0)
        batches.add(ObservedBatch(p.batchId, records, lastMs, lagSec))
      }
    }
  }
}
