package graft

import org.apache.spark.sql.functions._

/** Batch event-operator semantics that the sf-fixture oracle can't pin
  * sharply: gap-fill spine construction over a corpus with KNOWN holes
  * (the fixture's event stream is dense — every hour has events — so the
  * zero-fill branch only executes here), and MapType parse of heterogeneous
  * JSON keys (the fixture's props carry a single key).
  */
class EventOpsSpec extends SparkSpec {
  import spark.implicits._

  /** Run gate `q` over a minimal events parquet (nanos-LONG ts, like the
    * fixture) and collect its rows.
    */
  private def runOn(q: String, rows: Seq[(Long, String, Long, Double, String)]) =
    Scratch.using("events") { dir =>
      rows.toDF("event_id", "event_type", "ts", "value", "props")
        .withColumn("user_id", lit(1L))
        .write.parquet(s"$dir/events.parquet")
      SparkEntry.queries(q)(spark, dir.toString).collect()
    }

  private val H = 3600L * 1000000000L // one hour in nanos

  test("s9_gapfill zero-fills missing hours per type, spine spans min..max") {
    val out = runOn("s9_gapfill", Seq(
      (1L, "a", 0 * H, 1.0, "{}"),
      (2L, "a", 0 * H + 1, 2.0, "{}"), // same hour as event 1
      (3L, "a", 3 * H, 4.0, "{}"),     // hours 1,2 are gaps
      (4L, "b", 5 * H, 8.0, "{}")      // single-hour type: spine of 1
    ))
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    val hourUs = 3600000000L
    assert(out.toSeq == Seq(
      ("a", 0 * hourUs, 2L, 3.0),
      ("a", 1 * hourUs, 0L, 0.0),
      ("a", 2 * hourUs, 0L, 0.0),
      ("a", 3 * hourUs, 1L, 4.0),
      ("b", 5 * hourUs, 1L, 8.0)))
  }

  test("j2_props_map explodes heterogeneous keys (absent keys emit no row)") {
    val out = runOn("j2_props_map", Seq(
      (1L, "a", 0, 0.0, """{"k": 3, "x": 10}"""),
      (2L, "a", 0, 0.0, """{"k": 4}"""),
      (3L, "b", 0, 0.0, """{"x": -2}""")
    ))
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3)))
    assert(out.toSeq == Seq(
      ("a", "k", 2L, 7L),
      ("a", "x", 1L, 10L),
      ("b", "x", 1L, -2L)))
  }

  test("j4_map_hof filters small values, doubles+1 the rest; empty maps vanish") {
    val out = runOn("j4_map_hof", Seq(
      (1L, "a", 0, 0.0, """{"k": 60, "x": 10}"""),  // x dropped by the filter
      (2L, "a", 0, 0.0, """{"k": 50}"""),           // boundary: kept
      (3L, "b", 0, 0.0, """{"x": 9}""")             // fully filtered → no row
    ))
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3)))
    // v' = 2v+1: 60→121, 50→101; type b contributes nothing.
    assert(out.toSeq == Seq(("a", "k", 2L, 222L)))
  }
}
