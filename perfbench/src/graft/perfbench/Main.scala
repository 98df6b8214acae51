package graft.perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

/** The archive benchmark's JVM side.
  *
  * {{{
  * Main --workload serve_archive|live_mixed --seed N --seconds S
  *      --trace 0|1 --dir RUN_DIR --out OUT_DIR
  *      [--commit SHA] [--digest SOURCE_DIGEST]
  * }}}
  *
  * Prints a record line (`{"record": …}`: core count, heap, commit,
  * seed) and, last, the result line `{"correct", "attempted", "failed",
  * "metrics"}` — end-to-end metrics with `--trace 0`, per-layer metrics
  * with `--trace 1`. The same record, both metric sets and (traced)
  * every span go to `OUT_DIR/<workload>-seed<N>-trace<0|1>.json`.
  * Exits 1 when a correctness check fails.
  */
object Main {
  val Workloads: Map[String, RunCtx => Outcome] = Map(
    "serve_archive" -> ServeArchive.run,
    "live_mixed" -> LiveMixed.run)

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    def need(k: String): String = opt.getOrElse(k, usage(s"missing --$k"))
    val workload = need("workload")
    val run = Workloads.getOrElse(workload, usage(s"unknown workload '$workload'"))
    val seed = need("seed").toLong
    val seconds = need("seconds").toInt
    val traced = need("trace") == "1"
    val dir = need("dir")
    val out = need("out")

    val tracer = new Tracer(traced)
    val spark = Session.create(dir)
    System.err.println(f"perfbench: ${tracer.now / 1e9}%8.2f s  session")
    val o = run(new RunCtx(spark, seed, seconds, tracer, dir))
    val correct = o.problems.isEmpty
    o.problems.foreach(p => System.err.println(s"CHECK FAILED: $p"))
    val metrics = if (traced) Layers.complete(o.perLayer) else o.endToEnd

    val record = Seq(
      "workload" -> Stats.str(workload), "seed" -> seed.toString,
      "seconds" -> seconds.toString, "trace" -> (if (traced) "1" else "0"),
      "cores" -> Session.cores.toString,
      "heap_max_mb" -> (Runtime.getRuntime.maxMemory / (1024 * 1024)).toString,
      "git_commit" -> opt.get("commit").map(Stats.str).getOrElse("null"),
      "source_digest" -> opt.get("digest").map(Stats.str).getOrElse("null"),
      "spark" -> Stats.str(spark.version),
      "java" -> Stats.str(System.getProperty("java.version"))
    ).map { case (k, v) => s"${Stats.str(k)}:$v" }.mkString("{", ",", "}")
    val self = tracer.selfTimes.toSeq.sortBy(_._1).map { case (n, xs) =>
      s"${Stats.str(n)}:{\"count\":${xs.size},\"total_ms\":${Stats.num(xs.sum)}," +
        s"\"p50_ms\":${Stats.num(Stats.pct(xs, 50))}}"
    }.mkString("{", ",", "}")
    Files.createDirectories(Paths.get(out))
    Files.write(Paths.get(out, s"$workload-seed$seed-trace${if (traced) 1 else 0}.json"),
      (s"""{"record":$record,"correct":$correct,"attempted":${o.attempted},""" +
        s""""failed":${o.failed},"problems":[${o.problems.map(Stats.str).mkString(",")}],""" +
        s""""end_to_end":${Stats.metricsJson(o.endToEnd)},""" +
        s""""per_layer":${Stats.metricsJson(if (traced) metrics else Map.empty)},""" +
        s""""self_time":$self,"spans":${tracer.spansJson}}""" + "\n")
        .getBytes(StandardCharsets.UTF_8))
    spark.stop()
    System.err.println(f"perfbench: ${tracer.now / 1e9}%8.2f s  stopped")
    println(s"""{"record":$record}""")
    println(s"""{"correct":$correct,"attempted":${o.attempted},"failed":${o.failed},""" +
      s""""metrics":${Stats.metricsJson(metrics)}}""")
    System.out.flush()
    System.exit(if (correct) 0 else 1)
  }

  private def usage(msg: String): Nothing = {
    System.err.println(s"perfbench: $msg")
    System.exit(2)
    throw new IllegalStateException(msg)
  }
}
