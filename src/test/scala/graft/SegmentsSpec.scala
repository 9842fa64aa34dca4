package graft

import java.sql.Timestamp

import graft.streaming.Streams.Event

/** Segments synthesis edge cases. */
class SegmentsSpec extends SparkSpec {
  import spark.implicits._

  test("a processed zero-duration segment has a NULL sogkt instead of throwing") {
    // event_id % 5 = 0 marks the row processed; floor(600.25) % 600 = 0
    val ev = Seq(Event(5L, Timestamp.valueOf("2024-01-01 00:00:00"), 7L,
      "purchase", 600.25, "{}")).toDF()
    val Array(r) = ops.Segments.fromEvents(ev).select("duration", "lenm", "sogkt").collect()
    assert(r.getInt(0) === 0)
    assert(!r.isNullAt(1), "a processed row keeps its length")
    assert(r.isNullAt(2), s"sogkt over zero duration must be NULL, got ${r.get(2)}")
  }
}
