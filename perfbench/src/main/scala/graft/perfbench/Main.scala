package graft.perfbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession
import org.json4s._
import org.json4s.jackson.JsonMethods

/** One benchmark run in one JVM:
  * `Main --workload W --seed N --seconds S --trace 0|1 --out F --work D --data D`.
  * Writes the raw record of the run (context, every op, layer values,
  * failures) to `F` and, in a traced run, the spans to `F.spans.jsonl`.
  * perfbench/run.py launches it and turns the record into metrics. */
object Main {
  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opt("workload")
    val seed = opt("seed").toLong
    val seconds = opt("seconds").toDouble
    val trace = opt("trace") == "1"
    val out = opt("out")
    val cpus = Runtime.getRuntime.availableProcessors

    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val rec = new Recorder
    rec.mark("session")
    val tracing = if (trace) Some(new Tracing(spark, rec)) else None
    val ctx = Ctx(spark, rec, tracing, seed, seconds, opt("work"), opt("data"))

    val t0 = rec.nowMs()
    try workload match {
      case "serve_search" => ServeSearch.run(ctx)
      case "batch_lines" => BatchLines.run(ctx)
    } catch {
      case e: Throwable =>
        rec.fail(s"workload aborted: $e")
        rec.op(Op("workload", "check", t0, rec.nowMs() - t0, ok = false, traced = false, client = 0))
    }
    tracing.foreach(_.finish())

    val sizes = workload match {
      case "serve_search" => Map("rows" -> ServeSearch.Rows, "dim" -> 32)
      case _ => Map("lines" -> BatchLines.Names.size)
    }
    // what the run timed, for perfbench/stats.py to check against the
    // kinds it weighs: the search mix's shares, or the lines in order
    val design = workload match {
      case "serve_search" => JObject(ServeSearch.Mix.groupBy(identity).toList.sortBy(_._1).map {
        case (k, v) => k -> JDouble(v.size.toDouble / ServeSearch.Mix.size)
      })
      case _ => JArray(BatchLines.Names.toList.map(JString(_)))
    }
    val context = JObject(
      "workload" -> JString(workload), "seed" -> JLong(seed),
      "seconds" -> JDouble(seconds), "trace" -> JBool(trace),
      "cpus" -> JInt(cpus), "master" -> JString(spark.sparkContext.master),
      "shuffle_partitions" -> JString(spark.conf.get("spark.sql.shuffle.partitions")),
      "heap_max_mb" -> JLong(Runtime.getRuntime.maxMemory >> 20),
      "spark_version" -> JString(spark.version),
      "java_version" -> JString(System.getProperty("java.version")),
      "sizes" -> JObject(sizes.toList.map { case (k, v) => k -> JInt(v) }),
      "design" -> design)
    val result = JObject(
      "context" -> context,
      "jvm_start_ms" -> JLong(ManagementFactory.getRuntimeMXBean.getStartTime),
      "rss_peak_mb" -> JDouble(vmHwmMb()),
      "heap_live_mb" -> JDouble(liveHeapMb()),
      "ops" -> rec.opsJson,
      "layer" -> rec.layerJson,
      "failures" -> rec.failuresJson)
    Files.write(Paths.get(out), JsonMethods.compact(JsonMethods.render(result)).getBytes(UTF_8))
    if (trace) {
      val lines = rec.spansJson.map(s => JsonMethods.compact(JsonMethods.render(s)))
      Files.write(Paths.get(out + ".spans.jsonl"), (lines.mkString("\n") + "\n").getBytes(UTF_8))
    }
    spark.stop()
  }

  /** Heap still reachable after the run, in MiB: what the program and
    * Spark retain (caches, memo tables, status stores), read after full
    * collections so that it does not depend on when the last GC ran. */
  private def liveHeapMb(): Double = {
    (0 until 2).foreach { _ => System.gc(); Thread.sleep(200) }
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }

  /** Peak resident set of this JVM (VmHWM), in MiB. */
  private def vmHwmMb(): Double =
    scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024).getOrElse(0.0)
}
