package graft.streaming

/** The Kinesis record envelope as a typed row — mirrors
  * `Articles.envelopeSchema` (reference: `app/process_articles.py:21-27`).
  * Used as the element type for MemoryStream-backed test sources.
  */
final case class KinesisEnvelope(
    data: Array[Byte],
    approximateArrivalTimestamp: java.sql.Timestamp,
    partitionKey: String,
    sequenceNumber: String,
    kinesisShardId: String)
