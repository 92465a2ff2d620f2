package graft.streaming

import java.sql.Timestamp

/** Typed rows for the MemoryStream specs. */
object Events {

  /** One keyed event in the events table's five columns. */
  final case class Event(user_id: Long, event_id: Long, ts: Timestamp,
      event_type: String, value: Double)
}
