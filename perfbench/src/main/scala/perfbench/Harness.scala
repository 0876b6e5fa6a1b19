package perfbench

import java.io.{ByteArrayOutputStream, PrintStream}
import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Observation, SparkSession}
import org.apache.spark.sql.functions.{count, lit}

import graft.{GraftSession, SparkEntry}
import graft.etl.RunSalesPipeline
import graft.operators.{DedupOps, PipelineOps}

/** Minimal JSON string quoting for the result file. */
object Json {
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case '\r' => b ++= "\\r"
      case '\t' => b ++= "\\t"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }
}

/** The benchmark's JVM side: one workload, closed loop, one client.
  *
  *   Harness etl      <csv-dir> <out-dir> <yyyy-MM-dd> <seconds>    <result>
  *   Harness registry <data-dir> <key,key,...> <seconds>            <result>
  *
  * Both modes first time the set-up: from JVM start until
  * `GraftSession.build` returns. A workload then runs passes back to back
  * until `seconds` have passed since the first pass ended, and at least
  * one pass after the first. Each operation's outcome
  * and the scopes (pass, stage build, key) with their wall-clock intervals
  * go to the result file, one JSON object per line; the outputs are checked
  * afterwards, outside the passes. With
  * `-Dspark.extraListeners=perfbench.LayerListener` the job and execution
  * spans follow.
  */
object Harness {
  private val lines = scala.collection.mutable.ArrayBuffer.empty[String]

  private def emit(fields: (String, Any)*): Unit =
    lines += fields.map { case (k, v) =>
      val js = v match {
        case s: String => Json.str(s)
        case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
        case x => x.toString
      }
      Json.str(k) + ":" + js
    }.mkString("{", ",", "}")

  private def secondsSince(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  private def errorText(e: Throwable): String =
    s"${e.getClass.getName}: ${String.valueOf(e.getMessage).take(300)}"

  private def cpuMillis(): Long =
    ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime / 1000000L

  private def gcMillis(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(b => math.max(0L, b.getCollectionTime)).sum

  /** JVM start until the session is up. */
  private def setup(): SparkSession = {
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime
    val t0 = System.nanoTime()
    val spark = GraftSession.build("perfbench")
    val buildS = secondsSince(t0)
    emit("kind" -> "setup", "setup_s" -> (System.currentTimeMillis() - jvmStart) / 1e3,
      "session_build_s" -> buildS, "gc_ms" -> gcMillis(), "cpu_ms" -> cpuMillis(),
      "cpus" -> spark.sparkContext.defaultParallelism,
      "max_heap_mb" -> Runtime.getRuntime.maxMemory / (1024 * 1024),
      "gc" -> ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getName).mkString("+"),
      "java" -> System.getProperty("java.vm.version"), "spark" -> spark.version)
    spark
  }

  /** Run `op` as one timed operation inside scope `name`. */
  private def timed(kind: String, name: String, pass: Int)(op: => Seq[(String, Any)]): Unit = {
    val start = System.currentTimeMillis()
    val t0 = System.nanoTime()
    val (ok, extra) =
      try (true, op)
      catch { case e: Throwable => (false, Seq("error" -> errorText(e))) }
    val sec = secondsSince(t0)
    emit(Seq("kind" -> kind, "name" -> name, "pass" -> pass, "ok" -> ok, "sec" -> sec,
      "start" -> start, "end" -> System.currentTimeMillis()) ++ extra: _*)
  }

  /** Passes back to back until `seconds` after the first one, and at least
    * one more. Each pass is a scope of its own, with the JVM's GC and CPU
    * time at its end.
    */
  private def loop(seconds: Double)(pass: Int => Unit): Unit = {
    def one(i: Int): Unit = {
      val start = System.currentTimeMillis()
      val t0 = System.nanoTime()
      pass(i)
      emit("kind" -> "pass", "pass" -> i, "sec" -> secondsSince(t0), "start" -> start,
        "end" -> System.currentTimeMillis(), "gc_ms" -> gcMillis(), "cpu_ms" -> cpuMillis())
    }
    one(0)
    val t0 = System.nanoTime()
    var i = 1
    while (i == 1 || secondsSince(t0) < seconds) { one(i); i += 1 }
  }

  /** The ETL pass: the pipeline's own CLI entry point, stdout captured and
    * reduced to the lines the checks read.
    */
  private def etlPass(csvDir: String, outDir: String, refDate: String, pass: Int): Unit =
    timed("etl", "RunSalesPipeline.main", pass) {
      val buf = new ByteArrayOutputStream()
      val out = new PrintStream(buf, true, "UTF-8")
      try Console.withOut(out)(RunSalesPipeline.main(Array(csvDir, outDir, refDate)))
      catch { case e: Throwable =>
        SparkSession.getActiveSession.foreach(_.stop())
        throw e
      }
      val kept = buf.toString("UTF-8").linesIterator
        .filter(l => l.startsWith("[pipeline] produtos=") || l.startsWith("== Q")).toSeq
      Seq("stdout" -> kept.mkString("\n"))
    }

  /** The registry pass: rebuild the shared stages, then each key once into
    * a noop sink; the row count rides along as an observed metric so the
    * result is checked without a second execution.
    */
  private def registryPass(spark: SparkSession, dir: String, keys: Seq[String],
                           pass: Int): Unit = {
    timed("stage", "clearCaches", pass) { DedupOps.clearCaches(spark); Nil }
    timed("stage", "materializeSubstrate", pass) {
      DedupOps.materializeSubstrate(spark, dir); Nil }
    timed("stage", "materializeGramSubstrate", pass) {
      PipelineOps.materializeGramSubstrate(spark, dir); Nil }
    keys.foreach { key =>
      timed("key", key, pass) {
        val obs = Observation(s"rows_$key")
        try {
          SparkEntry.queries(key)(spark, dir).observe(obs, count(lit(1)).as("n"))
            .write.format("noop").mode("overwrite").save()
          Seq("rows" -> obs.get("n").toString)
        } finally DedupOps.releaseTransients(spark)
      }
    }
  }

  private def vmHwmMiB(): Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:"))
      .map(_.replaceAll("[^0-9]", "").toLong / 1024.0).getOrElse(Double.NaN)

  def main(args: Array[String]): Unit = {
    val result = args.last
    args.head match {
      case "etl" =>
        val Array(_, csvDir, outDir, refDate, seconds, _) = args
        // main reuses this session for the first pass and stops it
        setup()
        loop(seconds.toDouble)(etlPass(csvDir, outDir, refDate, _))
      case "registry" =>
        val Array(_, dir, keyList, seconds, _) = args
        val spark = setup()
        loop(seconds.toDouble)(registryPass(spark, dir, keyList.split(',').toSeq, _))
        spark.stop()
      case m => sys.error(s"unknown mode $m")
    }
    emit("kind" -> "end", "peak_rss_mb" -> vmHwmMiB())
    Files.write(Paths.get(result),
      (lines.iterator ++ LayerListener.dump()).mkString("", "\n", "\n").getBytes(UTF_8))
  }
}
