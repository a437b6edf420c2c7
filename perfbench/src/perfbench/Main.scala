package perfbench

import java.io.File

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.SparkSession

/** One benchmark run in one JVM:
  *
  *   perfbench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  *                  --work <dir> --out <file> [--setups <n>] [--smoke]
  *
  * Sets the workload up `--setups` times from the seed (each time from
  * scratch: inputs, stores, one warm-up call of every timed operation),
  * keeps the last set-up, then runs the workload's closed loop until its
  * measured operations add up to `--seconds`. Writes every sample, check
  * count, size, figure and provenance field to `--out` as JSON; with
  * `--trace 1` also every span and traced Spark job.
  */
object Main {
  def main(argv: Array[String]): Unit = {
    val args = argv.sliding(2, 1).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val workload = args("workload")
    val seed = args("seed").toLong
    val seconds = args("seconds").toDouble
    val trace = args("trace") == "1"
    val smoke = argv.contains("--smoke")
    val work = new File(args("work"))
    val cpus = math.min(4, Runtime.getRuntime.availableProcessors())
    val setups = args.get("setups").map(_.toInt).getOrElse(3)

    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(s"perfbench-$workload")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.optimizer.excludedRules", graft.SessionTuning.ExcludedRules)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.driver.host", "127.0.0.1")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.local.dir", new File(work, "spark-local").getPath)
      .config("spark.sql.warehouse.dir", new File(work, "warehouse").getPath)
      // bounded status history, so the heap at the end does not grow with
      // the number of jobs a run happened to finish
      .config("spark.ui.retainedJobs", "50")
      .config("spark.ui.retainedStages", "50")
      .config("spark.ui.retainedTasks", "1000")
      .config("spark.sql.ui.retainedExecutions", "50")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    val mapper = new ObjectMapper()
    val out = mapper.createObjectNode()
    try {
      // every set-up but the last is discarded, files and all
      var w: Workload = null
      val setupS = (1 to setups).map { i =>
        val dir = new File(work, s"setup-$i")
        if (w != null) deleteTree(new File(work, s"setup-${i - 1}"))
        val t0 = System.nanoTime()
        w = Workload(workload, spark, dir, seed, smoke)
        w.setup(new Harness(spark, None))
        (System.nanoTime() - t0) / 1e9
      }

      val tracer = if (trace) Some(new Tracer(spark.sparkContext)) else None
      val h = new Harness(spark, tracer)
      h.recording = true
      val gc0 = Harness.gcMs()
      val t0 = System.nanoTime()
      var steps = 0
      while (h.measuredMs < seconds * 1000 || steps < 2) { w.step(h); steps += 1 }
      w.finish(h)
      val wallMs = (System.nanoTime() - t0) / 1e6
      val gcMs = Harness.gcMs() - gc0
      h.recording = false
      tracer.foreach(_.detach())
      val heapMb = Harness.heapMb()

      out.put("workload", workload).put("seed", seed).put("seconds", seconds)
        .put("trace", trace).put("smoke", smoke)
      val st = out.putArray("setup_s")
      setupS.foreach(st.add)
      out.put("heap_mb", heapMb).put("gc_ms", gcMs).put("timed_wall_ms", wallMs)
        .put("measured_ms", h.measuredMs)
        .put("attempted", h.attempted).put("failed", h.failed)
      val fl = out.putArray("failures")
      h.failures.foreach(fl.add)
      def series(name: String, m: collection.Map[String, collection.Seq[Double]]): Unit = {
        val o = out.putObject(name)
        m.foreach { case (op, xs) => val a = o.putArray(op); xs.foreach(a.add) }
      }
      series("samples", h.samples)
      series("traced_samples", h.tracedSamples)
      def pairs(name: String, kv: Seq[(String, Double)]): Unit = {
        val o = out.putObject(name)
        kv.foreach { case (k, v) => o.put(k, v) }
      }
      pairs("sizes", w.sizes)
      pairs("figures", w.figures)
      pairs("store", w.store)
      val conf = spark.conf
      val prov = out.putObject("engine")
      prov.put("master", spark.sparkContext.master)
        .put("spark_version", spark.version)
        .put("java_version", System.getProperty("java.version"))
        .put("heap_max_mb", Runtime.getRuntime.maxMemory() / 1048576)
        .put("aqe", conf.get("spark.sql.adaptive.enabled"))
        .put("excluded_rules", conf.get("spark.sql.optimizer.excludedRules", ""))
        .put("shuffle_partitions", conf.get("spark.sql.shuffle.partitions"))
        .put("retained_jobs", conf.get("spark.ui.retainedJobs"))
        .put("retained_executions", conf.get("spark.sql.ui.retainedExecutions"))
      tracer.foreach { t =>
        out.set[com.fasterxml.jackson.databind.JsonNode]("trace", t.toJson(mapper))
        t.clear()
        out.put("heap_mb_without_spans", Harness.heapMb())
      }
      mapper.writeValue(new File(args("out")), out)
    } finally spark.stop()
  }

  private def deleteTree(f: File): Unit = {
    Option(f.listFiles()).toSeq.flatten.foreach(deleteTree)
    f.delete()
  }
}
