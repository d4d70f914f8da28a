package graft.plans

import graft.SparkSpec

/** Pins st11's composition end to end: the optimizer rule serves the
  * entry's final aggregate from the STREAM-MAINTAINED rollup parquet,
  * not from the chunk files the query nominally reads. (The gate's
  * oracle grades the values; this pins the plan.) */
class StreamMvServedSpec extends SparkSpec {
  test("st11 final aggregate is served from the stream-maintained MV") {
    try {
      val df = graft.SparkEntry.queries("st11_stream_mv_maintenance")(
        spark, "/root/testdata/sf0.001")
      val plan = df.queryExecution.executedPlan.toString
      // the run's dirs: <root>/st11-<n>/mv (the rollup), .../in (chunks)
      assert("st11-[0-9]+/mv".r.findFirstIn(plan).isDefined,
        s"not MV-served:\n$plan")
      assert("st11-[0-9]+/in".r.findFirstIn(plan).isEmpty,
        "still scanning the chunks")
    } finally MaterializedViews.clear()
  }
}
