package perfbench

import graft.pipeline.{MaterializedViews, ServingArtifacts}

/** `batch_suite`: repeated passes over [[Main.suiteKeys]] to the noop
  * sink, in a seeded order per pass — one closed-loop client. */
object Suite {
  def run(ctx: Ctx): Unit = {
    val dir = ctx.data
    val spark = ctx.phase("session")(ctx.spark)
    ctx.phase("artifacts")(ServingArtifacts.ensureDedup(spark, dir.toString))
    ctx.phase("mv")(MaterializedViews.minuteMvDf(spark, dir.toString))
    val keys = Main.suiteKeys
    // one untimed pass of the timed plans (codegen, class loading)
    ctx.phase("warmup")(ctx.rng.shuffle(keys).foreach { k =>
      ctx.runKey(k, dir.toString)
      spark.catalog.clearCache()
    })
    ctx.setupDone()
    // at least two passes: each key's time is its fastest pass (the
    // graft.Bench rule), which a one-off host stall cannot inflate. A
    // further pass starts only if one more of the last pass's length still
    // fits in the window, so a slightly faster host does not get an extra
    // (and warmer) pass to take its minimum over.
    val t0 = System.nanoTime()
    var passes = 0
    var lastPassS = 0.0
    while (passes < 2 || (System.nanoTime() - t0) / 1e9 + lastPassS <= ctx.seconds) {
      val p0 = System.nanoTime()
      ctx.tracer.span("pass") {
        ctx.rng.shuffle(keys).foreach { k =>
          try ctx.sample(s"key:$k", ctx.runKey(k, dir.toString))
          catch { case t: Throwable => ctx.fail(s"$k: ${t.getClass.getSimpleName}: ${t.getMessage}") }
          spark.catalog.clearCache()
        }
      }
      lastPassS = (System.nanoTime() - p0) / 1e9
      passes += 1
    }
    ctx.timedDone()
    ctx.scalars("passes") = passes
    // the outputs the oracle check reads, after the timed window
    keys.foreach(k => ctx.dump(k, dir))
  }
}
