package perfbench

import java.lang.management.{BufferPoolMXBean, ManagementFactory, MemoryType}
import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession
import org.json4s.{DefaultFormats, Formats}
import org.json4s.jackson.{JsonMethods, Serialization}

/** Benchmark harness entry, started by `run.py`:
  *
  *   perfbench.Main setup bulk_ingest <seed> <seconds> <trace 0|1> <cpus> <workDir>
  *   perfbench.Main run <workload> <seed> <seconds> <trace 0|1> <cpus> <workDir>
  *
  * `setup` makes the ingest input and its expected outputs in a JVM of
  * its own, timing the set-up, and writes them to `<workDir>/setup.json`.
  * The `run` JVM then holds only the program's own work and the output
  * checks, so its first operation is cold and its memory is the
  * program's. (The query workload reads committed tables and times its
  * set-up after its passes.) `run` writes the raw samples, output checks
  * and failures (and, when traced, the listener records) to
  * `<workDir>/result.json`; `run.py` reduces them to the reported metrics.
  */
object Main {
  final case class Config(workload: String, seed: Long, seconds: Double, traced: Boolean,
      cpus: Int, work: String) {
    def path(name: String): String = Paths.get(work, name).toString
  }

  implicit val formats: Formats = DefaultFormats

  def main(args: Array[String]): Unit = {
    require(args.length == 7 && Set("setup", "run")(args(0)),
      "usage: perfbench.Main <setup|run> <workload> <seed> <seconds> <trace> <cpus> <workDir>")
    val cfg = Config(args(1), args(2).toLong, args(3).toDouble, args(4) == "1",
      args(5).toInt, args(6))
    if (args(0) == "setup") {
      require(cfg.workload == "bulk_ingest", s"no set-up JVM for '${cfg.workload}'")
      Files.writeString(Paths.get(cfg.path("setup.json")), Serialization.write(Ingest.setup(cfg)))
    } else {
      val result = new Result(cfg)
      Trace.countCodegenFailures()
      cfg.workload match {
        case "bulk_ingest" => Ingest.bulk(cfg, result,
          JsonMethods.parse(Files.readString(Paths.get(cfg.path("setup.json")))))
        case "query_mix" => QueryMix.run(cfg, result)
        case other => throw new IllegalArgumentException(s"unknown workload '$other'")
      }
      result.extra("codegen_failures") = Trace.codegenFailures.get()
      if (cfg.traced) result.extra("trace_records") = Trace.all
      Files.writeString(Paths.get(cfg.path("result.json")), Serialization.write(result.toMap))
    }
  }

  /** The session the harness builds for set-up, checks and the query
    * workload: the settings `RunPipeline` gives its own session.
    */
  def session(cpus: Int): SparkSession = {
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  private val epochMs0 = System.currentTimeMillis()
  private val nano0 = System.nanoTime()

  /** Wall-clock ms with sub-ms resolution, on the clock listener events use. */
  def nowMs: Double = epochMs0 + (System.nanoTime() - nano0) / 1e6

  def seconds[T](body: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = body
    (r, (System.nanoTime() - t0) / 1e9)
  }

  /** Peak memory of this JVM so far, in MB, kept in the record but not
    * gated: the resident set (VmHWM) and the peak used heap both follow
    * when the collector grows the heap more than the program's needs.
    */
  def recordPeaks(res: Result): Unit = {
    val status = Files.readAllLines(Paths.get("/proc/self/status")).asScala
    val kb = status.find(_.startsWith("VmHWM:")).map(_.split("\\s+")(1).toDouble)
      .getOrElse(throw new IllegalStateException("VmHWM missing from /proc/self/status"))
    res.extra("peak_rss_mb") = kb / 1024.0
    res.extra("heap_peak_mb") = ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == MemoryType.HEAP).map(_.getPeakUsage.getUsed).sum / 1048576.0
  }

  /** Memory the program holds, in MB: the heap in use after a full
    * collection, plus the non-heap pools (class metadata, compiled code)
    * and the direct and mapped buffers.
    */
  def liveMemMb(): Double = {
    System.gc()
    val mem = ManagementFactory.getMemoryMXBean
    val buffers = ManagementFactory.getPlatformMXBeans(classOf[BufferPoolMXBean]).asScala
      .map(_.getMemoryUsed).sum
    (mem.getHeapMemoryUsage.getUsed + mem.getNonHeapMemoryUsage.getUsed + buffers) / 1048576.0
  }

  /** Runs warm rounds 1, 2, ... until `cfg.seconds` have passed and at
    * least `min` have run. A traced run takes at least four, traced in
    * the order traced, untraced, untraced, traced: the difference of the
    * two kinds is the tracing overhead, and a warm-up trend across the
    * rounds cancels out of it. After each round, outside its timing, the
    * program's live memory is taken; the peaks are taken after the last.
    */
  def warmRounds(cfg: Config, res: Result, min: Int)(round: (Int, Boolean) => Unit): Unit = {
    val least = if (cfg.traced) math.max(min, 4) else min
    val t0 = System.nanoTime()
    var i = 1
    while (i <= least || (System.nanoTime() - t0) / 1e9 < cfg.seconds) {
      round(i, cfg.traced && (i % 4 == 1 || i % 4 == 0))
      res.liveMem += liveMemMb()
      i += 1
    }
    recordPeaks(res)
  }

  def deleteRecursively(path: String): Unit =
    graft.util.Fs.deleteRecursively(Paths.get(path))
}

final class CheckFailed(message: String) extends Exception(message)

/** What one run measured. An operation is a job or a query; one that throws, or whose output check fails, is a failure,
  * recorded with its exception class and message.
  */
final class Result(cfg: Main.Config) {
  val setup = mutable.ArrayBuffer.empty[Double]
  val liveMem = mutable.ArrayBuffer.empty[Double]
  val ops = mutable.ArrayBuffer.empty[Map[String, Any]]
  val rounds = mutable.ArrayBuffer.empty[Map[String, Any]]
  val checks = mutable.ArrayBuffer.empty[Map[String, Any]]
  val failures = mutable.ArrayBuffer.empty[Map[String, Any]]
  val extra = mutable.LinkedHashMap.empty[String, Any]
  var attempted = 0L
  var failed = 0L

  def op(fields: (String, Any)*): Unit = ops += fields.toMap

  /** A round is one closed-loop step: a job or a query pass. */
  def round(fields: (String, Any)*): Unit = rounds += fields.toMap

  /** Records an output check of `op`; a failed one throws, which makes
    * the enclosing [[attempt]] a failure.
    */
  def check(op: String, name: String, ok: Boolean, detail: String): Unit = {
    checks += Map("op" -> op, "check" -> name, "ok" -> ok, "detail" -> detail)
    if (!ok) throw new CheckFailed(s"$name: $detail")
  }

  /** Runs `body` as one operation. */
  def attempt[T](op: String)(body: => T): Option[T] = {
    attempted += 1
    try Some(body)
    catch {
      case NonFatal(e) =>
        failures += Map("op" -> op, "class" -> e.getClass.getName,
          "message" -> String.valueOf(e.getMessage))
        failed += 1
        None
    }
  }

  def toMap: Map[String, Any] = Map(
    "workload" -> cfg.workload, "seed" -> cfg.seed, "seconds" -> cfg.seconds,
    "traced" -> cfg.traced, "cpus" -> cfg.cpus, "setup_s" -> setup.toList,
    "live_mem_mb" -> liveMem.toList,
    "attempted" -> attempted, "failed" -> failed, "ops" -> ops.toList, "rounds" -> rounds.toList,
    "checks" -> checks.toList, "failures" -> failures.toList) ++ extra
}
