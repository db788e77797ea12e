package graft

import org.apache.spark.sql.SparkSession

import graft.lineage.Lineage
import graft.metrics.{Metrics, PartitionMetrics}
import graft.pipeline.Stage
import graft.route.Router

/** Production entry point (spark-submit main): the resumable, metered
  * end-to-end job —
  *
  *   read transcripts → parse → enrich → route → exactly-once bucketed
  *   commit (lineage) → metrics report.
  *
  * Usage:
  *   spark-submit --class graft.RunPipeline <jar> \
  *     <inputDir> <outputRoot> [batchId] [nBuckets]
  *
  * A re-run after a crash with the same outputRoot skips every sealed
  * bucket (see [[graft.lineage.Lineage]]), so the job is idempotent.
  * Prints three JSON lines: the per-sink report (`SINKS`), per-partition
  * throughput (`PARTITIONS`; both admin-API analogs) and the lineage
  * progress (`COMMIT`).
  *
  * The whole job is one SQL execution, the Lineage write. The per-sink
  * turn and byte counts are observed on the rows as they are written,
  * like the reference's endpoint counters growing from acks
  * (`publisher/endpoint/api.go:34-45`); nothing committed is read back.
  * So `SINKS` counts the rows THIS run committed: a resumed run reports
  * only the buckets it sealed, and a re-run over a fully committed root
  * reports none. `COMMIT`'s `buckets_total` covers every run.
  */
object RunPipeline {

  /** One run's per-sink report and the number of buckets it sealed. */
  final case class Result(report: Metrics.Report, committed: Int)

  /** The job on a caller's session: the body of [[main]]. */
  def run(spark: SparkSession, inputDir: String, outputRoot: String, batchId: String,
      nBuckets: Int, parseStages: Seq[Stage]): Result = {
    val t0 = System.nanoTime()
    val sinks = TranscriptPipeline.sinks.map(_.name) :+ TranscriptPipeline.DefaultSink
    val turns = spark.read.parquet(inputDir)
    val assigned = TranscriptPipeline.run(spark, turns, parseStages)
    val outcome = Lineage.runObserving(Router.stripMeta(assigned), outputRoot, nBuckets,
      batchId, Metrics.sinkObservations(sinks))
    val report = Metrics.fromObserved(outcome.observed, sinks, (System.nanoTime() - t0) / 1e9)
    Result(report, outcome.committed)
  }

  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: RunPipeline <inputDir> <outputRoot> [batchId] [nBuckets]")
    val inputDir = args(0)
    val outputRoot = args(1)
    val batchId = if (args.length > 2) args(2) else "batch-0"
    val nBuckets = if (args.length > 3) args(3).toInt else 64

    val builder = SparkSession.builder()
      .appName("graft-pipeline")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
    // default master only when not provided by spark-submit
    val spark = (if (sys.props.contains("spark.master")) builder
                 else builder.master(s"local[${sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")}]")
                   .config("spark.sql.shuffle.partitions",
                     sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val listener = PartitionMetrics.attach(spark)

    // Live admin endpoint (the reference's REST admin API,
    // `lc-lib/admin/server.go`): opt-in via GRAFT_ADMIN_PORT. While the
    // job runs, GET /pipeline/partitions streams the accumulating
    // per-partition throughput, /pipeline/lineage the sealed-bucket
    // resume progress, and /pipeline/sinks the per-sink turn/byte
    // counters over buckets committed so far (the publisher/endpoint
    // counters, publisher/api.go:33-36) — what `lc-admin` would poll.
    val admin = sys.env.get("GRAFT_ADMIN_PORT").map { p =>
      val srv = graft.admin.AdminServer.forBatch(
        spark, outputRoot, batchId, nBuckets, () => listener.snapshot)
      val addr = srv.start(p.toInt)
      println(s"""ADMIN {"host":"${addr.getHostString}","port":${addr.getPort}}""")
      srv
    }

    // optional config-driven parse stages: GRAFT_PIPELINE_CONFIG points
    // at a pipeline config file in either dialect — the reference's
    // native YAML (testing/log-carver.yaml shape) or our JSON; without
    // it the built-in transcript stage list applies
    val parseStages = sys.env.get("GRAFT_PIPELINE_CONFIG") match {
      case Some(path) =>
        val text = java.nio.file.Files.readString(java.nio.file.Paths.get(path))
        graft.pipeline.PipelineConfig.fromText(text, path)
      case None => TranscriptPipeline.stages
    }

    val result = run(spark, inputDir, outputRoot, batchId, nBuckets, parseStages)
    org.apache.spark.graftbridge.CoreBridge.waitListenerBusEmpty(spark.sparkContext)
    println("SINKS " + Metrics.toJson(result.report))
    println("PARTITIONS " + PartitionMetrics.toJson(listener.snapshot))
    println(s"""COMMIT {"batch_id":"$batchId","buckets_committed":${result.committed},"buckets_total":${Lineage.committed(outputRoot).size}}""")
    admin.foreach(_.stop())
    spark.stop()
  }
}
