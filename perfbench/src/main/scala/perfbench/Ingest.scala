package perfbench

import java.io.{ByteArrayOutputStream, PrintStream}
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.json4s.JValue

import graft.{PipelineOracle, RunPipeline, TranscriptPipeline}
import graft.enrich.Enrich
import graft.lineage.Lineage
import graft.model.TranscriptGen
import graft.pipeline.Pipeline
import graft.route.Router

/** The ingest workload: the shipped batch entry (`RunPipeline`) over
  * transcripts that `TranscriptGen` makes from the run's seed.
  */
object Ingest {
  import Main.formats

  /** Conversations in the bulk input: about 185k turns, about six
    * seconds per job on four cores, so a run holds several jobs. Most of
    * a job at this size is fixed cost (the 256 files of the write, the
    * stats scan, the re-read): 132k turns took as long.
    */
  val BulkConvs = 14000L
  /** RunPipeline's default bucket count. */
  val Buckets = 64
  /** Set-up (input generation; reading the query tables) is repeated
    * and its median reported.
    */
  val SetupReps = 3

  /** Per-sink turn counts from the row-at-a-time oracle, run as plain
    * Scala inside Spark tasks: independent of the engine's expressions.
    */
  private def oracleSinkCounts(spark: SparkSession, seed: Long, nConvs: Long): Map[String, Long] = {
    import spark.implicits._
    TranscriptGen.generate(spark, seed, nConvs, parallelism = spark.sparkContext.defaultParallelism)
      .map(t => PipelineOracle.process(t).sink)
      .groupBy("value").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
  }

  private def turnCount(seed: Long, nConvs: Long): Long =
    (0L until nConvs).map(c => TranscriptGen.convLen(seed, c).toLong).sum

  // ---------------------------------------------------------------- bulk

  private val SinkLine = """"sink":"([^"]+)","turns":(\d+)""".r
  private val MarkerRows = """"rows":(\d+)""".r

  /** Set-up, in its own JVM: writes the seeded input `SetupReps` times,
    * timing each, and counts its turns per sink with the oracle.
    */
  def setup(cfg: Main.Config): Map[String, Any] = {
    val spark = Main.session(cfg.cpus)
    try {
      val times = (1 to SetupReps).map(_ => Main.seconds(
        TranscriptGen.generate(spark, cfg.seed, BulkConvs, parallelism = cfg.cpus * 4)
          .write.mode("overwrite").parquet(cfg.path("bulk_input")))._2)
      Map("setup_s" -> times.toList, "turns" -> turnCount(cfg.seed, BulkConvs),
        "expected_sinks" -> oracleSinkCounts(spark, cfg.seed, BulkConvs))
    } finally spark.stop()
  }

  /** The measured JVM: `RunPipeline` jobs, the first one cold. */
  def bulk(cfg: Main.Config, res: Result, setup: JValue): Unit = {
    val input = cfg.path("bulk_input")
    res.setup ++= (setup \ "setup_s").extract[List[Double]]
    val turns = (setup \ "turns").extract[Long]
    val expected = (setup \ "expected_sinks").extract[Map[String, Long]]
    res.extra("expected_sinks") = expected

    def job(i: Int, phase: String, traced: Boolean, props: Seq[(String, String)] = Nil): Unit =
      res.attempt(s"job-$i") {
        val root = cfg.path(s"bulk_out_$i")
        val out = new ByteArrayOutputStream()
        val set = (if (traced) Trace.SessionListenerConf else Nil) ++ props
        set.foreach { case (k, v) => System.setProperty(k, v) }
        val cg0 = Trace.codegen()
        val start = Main.nowMs
        try Console.withOut(new PrintStream(out, true, "UTF-8")) {
          RunPipeline.main(Array(input, root, s"batch-$i", Buckets.toString))
        } finally set.foreach { case (k, _) => System.clearProperty(k) }
        val end = Main.nowMs
        val cg1 = Trace.codegen()
        val fields = Seq("name" -> s"job-$i", "phase" -> phase, "traced" -> traced,
          "start_ms" -> start, "end_ms" -> end, "items" -> turns,
          "compile_ns" -> (cg1._1 - cg0._1), "compiles" -> (cg1._2 - cg0._2))
        res.op(fields: _*)
        res.round(fields: _*)
        checkBulk(res, s"job-$i", out.toString("UTF-8"), root, s"batch-$i", turns, expected)
        Main.deleteRecursively(root)
      }

    // the first job in the JVM is the cold one
    job(0, "cold", cfg.traced)
    var jobs = 1
    Main.warmRounds(cfg, res, 2) { (i, traced) => job(i, "warm", traced); jobs = i + 1 }
    if (cfg.traced) {
      // the same job on one core: the single-threaded baseline
      job(jobs, "local1", traced = false,
        Seq("spark.master" -> "local[1]", "spark.sql.shuffle.partitions" -> "1"))
      res.extra("bands") = bands(cfg, input)
    }
  }

  private def checkBulk(res: Result, op: String, stdout: String, root: String, batch: String,
      turns: Long, expected: Map[String, Long]): Unit = {
    val markers = Lineage.committed(root)
    val lineageDir = Paths.get(root, "lineage")
    val committedRows = markers.toSeq.map { b =>
      MarkerRows.findFirstMatchIn(Files.readString(lineageDir.resolve(s"p$b.json")))
        .map(_.group(1).toLong).getOrElse(-1L)
    }.sum
    res.check(op, "committed_rows", committedRows == turns,
      s"lineage markers hold $committedRows rows, generated $turns")
    val dataDirs = Option(Paths.get(root, "data").toFile.list()).map(_.toSet).getOrElse(Set.empty)
    val sealedAll = markers.size == Buckets && dataDirs == markers.map(b => s"p$b") &&
      !Files.exists(Paths.get(root, s"_staging_$batch"))
    res.check(op, "buckets_sealed", sealedAll,
      s"${markers.size}/$Buckets markers, ${dataDirs.size} data dirs")
    val sinkLine = stdout.linesIterator.find(_.startsWith("SINKS ")).getOrElse("")
    val sinks = SinkLine.findAllMatchIn(sinkLine).map(m => m.group(1) -> m.group(2).toLong).toMap
    res.check(op, "sink_counts", sinks == expected, s"job $sinks, oracle $expected")
  }

  /** Noop-sink prefix timings: each band is the time a prefix of the
    * plan adds over the prefix before it. Each prefix takes the fastest
    * of five runs, as interference only ever adds time; a band smaller
    * than the remaining noise can still read below zero.
    */
  private def bands(cfg: Main.Config, input: String): Map[String, Double] = {
    val spark = Main.session(cfg.cpus)
    try {
      def noop(df: DataFrame): Double =
        Main.seconds(df.write.format("noop").mode("overwrite").save())._2
      def scan() = spark.read.parquet(input)
      def parsed() = Pipeline(scan(), TranscriptPipeline.stages)
      def enriched() = Enrich.withLookup(
        Enrich.withLookup(parsed(), Enrich.roleLookup(spark), Seq("role")),
        Enrich.toolLookup(spark), Seq("tool"))
      def routed() = Router.assign(enriched(), TranscriptPipeline.sinks,
        TranscriptPipeline.DefaultSink)
      noop(routed()) // warm-up
      val prefixes = Seq("scan" -> (() => scan()), "pipeline" -> (() => parsed()),
        "enrich" -> (() => enriched()), "route" -> (() => routed()))
      val times = prefixes.map { case (name, df) =>
        name -> (1 to 5).map(_ => noop(df())).min
      }
      val cumulative = times.map(_._2)
      times.map(_._1).zip(cumulative.zip(0.0 +: cumulative).map { case (a, b) => a - b }).toMap
    } finally spark.stop()
  }
}
