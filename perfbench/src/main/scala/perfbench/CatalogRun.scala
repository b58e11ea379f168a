package perfbench

import scala.collection.mutable

/** catalog: the Bench.baseline36 rows over the seeded tables, one after
  * another, each materialized with a noop write, after an untimed
  * warm-up pass. The timed phase runs whole passes over the rows. */
object CatalogRun {
  import Harness._

  private def family(row: String): String = row.takeWhile(_.isLetter)

  def run(ctx: Ctx): Seq[(String, Any)] = {
    val spark = ctx.spark
    val dir = ctx.in("catalog")
    val catalog = graft.SparkEntry.queries
    val rows = baseline36
    def materialize(r: String): Unit =
      try catalog(r)(spark, dir).write.mode("overwrite").format("noop").save()
      finally graft.CacheTracker.releaseAll()
    graft.Tables.names.foreach(t => graft.Tables.load(spark, dir, t).count())
    // the untimed warm-up pass writes each row's full result: run.py
    // compares it against the row's DuckDB oracle after the run
    var failed = 0
    rows.foreach { r =>
      try catalog(r)(spark, dir).write.mode("overwrite")
        .parquet(s"${ctx.work}/results/$r")
      catch { case e: Exception =>
        failed += 1
        System.err.println(s"perfbench: $r failed: $e")
      }
      finally graft.CacheTracker.releaseAll()
    }
    write(s"${ctx.work}/oracle_sql.json", Json.obj(rows.flatMap(r =>
      graft.SparkEntry.oracleSql.get(r).map(r -> _))))
    phase("warm_pass")
    println("@@timed")
    System.out.flush()
    val start = nowMs()
    val deadline = start + ctx.seconds * 1000
    val times = mutable.ArrayBuffer[(String, Double)]()
    val tracedTimes = mutable.ArrayBuffer[(String, Double)]()
    val byFamily = mutable.Map[String, Counters]().withDefaultValue(Counters())
    var total = Counters()
    var attempted = 0
    var pass = 0
    var passMs = 0.0
    // whole passes only, so every run times the same row mix: another
    // pass starts if one more of the last one's length still fits
    while (pass == 0 || nowMs() + passMs <= deadline) {
      val p0 = nowMs()
      rows.foreach { r =>
        attempted += 1
        def plainPass(): Unit = {
          val t0 = nowMs()
          try materialize(r) catch { case _: Exception => failed += 1 }
          times += ((r, nowMs() - t0))
        }
        // traced runs pair each row with a traced execution of the
        // same row, alternating which goes first
        def tracedPass(): Unit = {
          attach(ctx)
          val k0 = counters(ctx)
          val t1 = nowMs()
          ctx.tracer.op("queries", r)(materialize(r))
          tracedTimes += ((r, nowMs() - t1))
          val d = counters(ctx) - k0
          total = total + d
          byFamily(family(r)) = byFamily(family(r)) + d
          detach(ctx)
        }
        if (!ctx.traced) plainPass()
        else if (attempted % 2 == 0) { plainPass(); tracedPass() }
        else { tracedPass(); plainPass() }
      }
      passMs = nowMs() - p0
      pass += 1
    }
    val wall = nowMs() - start
    val perRow = rows.map(r => r -> median(times.filter(_._1 == r)
      .map(_._2).toSeq)).toMap
    val families = rows.map(family).distinct
    Seq("attempted" -> attempted, "failed" -> failed,
      "latencies_ms" -> times.map(_._2).toSeq,
      "ops_per_s" -> times.size / (wall / 1000),
      "passes" -> pass,
      "catalog_total_s" -> perRow.values.sum / 1000,
      "baseline36_s" -> perRow.values.sum / 1000,
      "queries.row_s" -> perRow.map { case (k, v) => k -> v / 1000 },
      "queries.family_s" -> families.map(f => f ->
        perRow.filter(kv => family(kv._1) == f).values.sum / 1000).toMap) ++
      (if (!ctx.traced) Nil
       else {
         val n = tracedTimes.size.toDouble
         Seq("trace.overhead_pct" -> overheadPct(tracedTimes.indices.map(k =>
           (tracedTimes(k)._2, times(k)._2, (k + 1) % 2 == 0))),
           "layer_self_ms" -> ctx.tracer.selfMsByLayer(),
           "ops" -> tracedTimes.size,
           "spark.family" -> families.map { f =>
             val c = byFamily(f)
             val w = tracedTimes.filter(t => family(t._1) == f).map(_._2).sum
             f -> Map("tasks" -> c.tasks.toDouble,
               "task_cpu_s" -> c.taskCpuMs / 1000, "gc_s" -> c.gcMs / 1000,
               "shuffle_mb" -> c.shuffleWriteBytes / 1e6,
               "spill_mb" -> c.spillBytes / 1e6, "plan_ms" -> c.planMs,
               "core_util" -> c.taskRunMs / (w * 4))
           }.toMap) ++ stats("", total, n, tracedTimes.map(_._2).sum)
       })
  }
}
