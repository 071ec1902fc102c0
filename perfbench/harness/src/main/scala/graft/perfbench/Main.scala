package graft.perfbench

import java.nio.file.{Files, Paths}

/** Benchmark harness entry point. One JVM runs one workload and writes its
  * raw results (latency samples, layer counters, named failures) to
  * `<out>/result.json`, and its spans to `<out>/spans.json` when traced;
  * `perfbench/run.py` turns them into metrics.
  *
  * Args: `--workload chat_log|llm_batch|refinery_stream --seed N --seconds S
  * --trace 0|1 --out DIR --work DIR --data DIR`, `--oracle-sql FILE` (dumps
  * the llm_batch faces' oracle SQL) or `--self-test`.
  */
object Main {
  def main(args: Array[String]): Unit = {
    if (args.contains("--self-test")) { SelfTest.run(); return }
    if (args.headOption.contains("--oracle-sql")) {
      Files.writeString(Paths.get(args(1)),
        Json.obj(LlmBatch.faces.map(f => f -> graft.SparkEntry.oracleSql(f)): _*))
      return
    }
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opt("workload")
    val seed = opt("seed").toLong
    val jvmStartMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    def sinceJvmStart: Double = (System.currentTimeMillis() - jvmStartMs) / 1e3
    val spark = graft.core.GraftSession.local("perfbench")
    val sessionS = sinceJvmStart
    val rec = new Recorder
    val ctx = Ctx(spark, seed, opt("seconds").toDouble, rec, Probe.install(spark),
      new Tracer(spark, opt.getOrElse("trace", "0") == "1"), opt("work"), opt("out"), opt("data"))
    rec.set("session_start_s", sessionS)
    try workload match {
      case "chat_log" => ChatLog.run(ctx)
      case "llm_batch" => LlmBatch.run(ctx)
      case "refinery_stream" => RefineryStream.run(ctx)
      case other => rec.attempt(); rec.fail(s"unknown workload $other")
    } catch {
      case e: Throwable =>
        rec.attempt()
        rec.fail(s"$workload aborted: ${e.getClass.getName}: ${e.getMessage}")
        e.printStackTrace()
    }
    rec.set("workload_done_s", sinceJvmStart)
    if (ctx.tracer.enabled) {
      rec.setAll("", ctx.tracer.selfTimes(ctx.probe.endedJobs))
      rec.set("trace.spans", ctx.tracer.all.size.toDouble)
      Files.writeString(Paths.get(ctx.out, "spans.json"), ctx.tracer.toJson)
    }
    Files.writeString(Paths.get(ctx.out, "result.json"), rec.toJson(Seq(
      "workload" -> workload, "seed" -> seed,
      "cpus" -> spark.sparkContext.defaultParallelism)))
    spark.stop()
  }
}
