package graft

import org.apache.spark.sql.functions._

class ObservabilitySpec extends SparkSpec {
  import spark.implicits._

  test("attached listener records action traces with durations and outcomes") {
    Observability.clear()
    Observability.attach(spark)
    Observability.attach(spark) // idempotent
    Seq(1, 2, 3).toDF("x").agg(sum(col("x"))).collect()
    // listener delivery is async — poll briefly
    var tries = 0
    while (Observability.recent().isEmpty && tries < 50) { Thread.sleep(100); tries += 1 }
    val ts = Observability.recent()
    assert(ts.nonEmpty)
    assert(ts.forall(_.success))
    assert(ts.exists(_.action == "collect"))
    assert(ts.forall(_.durationMs >= 0))
  }

  test("jobs stamp their id into the trace log (observability.py:48 parity)") {
    val id = graft.llm.Jobs.submit(Seq((1, "x"), (2, "y")).toDF("a", "b"), Some("trace-me"))
    // recorded synchronously at the submit site — no listener race
    val ts = Observability.forJob(id)
    assert(ts.size === 1)
    val t = ts.head
    assert(t.success)
    assert(t.action === "jobs.submit:trace-me")
    assert(t.jobId === Some(id))
    assert(t.durationMs >= 0)
    // ad-hoc actions carry no job id; forJob filters them out
    assert(Observability.forJob("job-nonexistent").isEmpty)
  }

  test("the trace log is a bounded ring: the oldest traces drop past the cap") {
    val cap = Observability.MaxTraces
    Observability.clear()
    try {
      (0 until cap + 5).foreach { i =>
        Observability.record(Observability.Trace(s"ring-$i", 0L, success = true, None, -1L,
          i.toLong, jobId = Some(s"ring-job-$i")))
      }
      val all = Observability.recent(Int.MaxValue)
      assert(all.size === cap)
      assert(all.head.action === "ring-5")
      assert(all.last.action === s"ring-${cap + 4}")
      assert((0 until 5).forall(i => Observability.forJob(s"ring-job-$i").isEmpty))
      assert(Observability.forJob(s"ring-job-${cap + 4}").map(_.action) ===
        Seq(s"ring-${cap + 4}"))
    } finally Observability.clear()
  }
}
