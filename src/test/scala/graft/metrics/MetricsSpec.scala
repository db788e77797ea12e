package graft.metrics

import graft.{PipelineOracle, RunPipeline, SparkTestBase, TranscriptPipeline}
import graft.lineage.Lineage
import graft.model.TranscriptGen
import graft.route.Router
import org.apache.spark.sql.functions._

class MetricsSpec extends SparkTestBase {

  test("per-sink report sums to the input and renders JSON") {
    val turns = TranscriptGen.generate(spark, 5L, 20L, 4).toDF()
    val assigned = TranscriptPipeline.run(spark, turns)
    val report = Metrics.fromSinkCounts(Router.sinkCounts(assigned), 2.0)
    assert(report.inputTurns == turns.count())
    assert(report.turnsPerSec == report.inputTurns / 2.0)
    val json = Metrics.toJson(report)
    assert(json.contains("\"sinks\":[") && json.contains("sink_main"))
  }

  test("partition listener captures per-partition read throughput") {
    val listener = PartitionMetrics.attach(spark)
    val tmp = java.nio.file.Files.createTempDirectory("graft-metrics").toString
    TranscriptGen.generate(spark, 6L, 40L, 4).toDF()
      .write.mode("overwrite").parquet(s"$tmp/in")
    spark.read.parquet(s"$tmp/in").count()
    org.apache.spark.graftbridge.CoreBridge.waitListenerBusEmpty(spark.sparkContext)
    val parts = listener.snapshot
    assert(parts.nonEmpty)
    assert(parts.map(_.records).sum > 0)
    val json = PartitionMetrics.toJson(parts)
    assert(json.startsWith("[{\"stage\":"))
  }

  test("sink event-time lag is zero for the newest sink, non-negative otherwise") {
    val turns = TranscriptGen.generate(spark, 7L, 30L, 4).toDF()
    val assigned = TranscriptPipeline.run(spark, turns)
    val lags = PartitionMetrics.sinkLag(assigned)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(lags.values.min == 0L)
    assert(lags.values.forall(_ >= 0L))
  }

  test("EWMA speed meter mirrors CalculateSpeed (core/util.go:27-47)") {
    val m = new Metrics.SpeedMeter(5.0)
    // first measurement seeds the average unchanged
    assert(m.update(1.0, 100.0) == 100.0)
    // EWMA formula: (1-exp(-1/5))*200 + exp(-1/5)*100
    val exp = math.exp(-1.0 / 5.0)
    val want = (1 - exp) * 200.0 + exp * 100.0
    assert(math.abs(m.update(1.0, 200.0) - want) < 1e-9)
    // five idle seconds auto-reset to zero
    for (_ <- 1 to 5) m.update(1.0, 0.0)
    assert(m.value == 0.0)
    // and the next measurement re-seeds
    assert(m.update(1.0, 50.0) == 50.0)
  }

  test("codec meters: filtered_lines counts pattern-collection rejects (filter.go:108-117)") {
    import spark.implicits._
    val df = Seq("keep this", "drop that", "keep too", "drop also", "drop x")
      .toDF("text")
    val m = graft.codec.CodecMeters.filterMeter(df, Seq("^keep")).collect()(0)
    assert(m.getLong(0) == 2L && m.getLong(1) == 3L) // kept, filtered
  }

  test("codec meters: pending_lines = unflushed buffer at end of input (multiline.go:268-279)") {
    import spark.implicits._
    import graft.codec.{CodecMeters, MultilineConfig}
    // what=previous: every conversation's final group is still buffered
    val prev = Seq(
      ("c1", 0, "head"), ("c1", 1, "  cont"),          // open buffer: 2 lines
      ("c2", 0, "head"), ("c2", 1, "  c"), ("c2", 2, "  c2") // open buffer: 3 lines
    ).toDF("conv_id", "turn_idx", "text")
    val mPrev = CodecMeters.multilinePending(prev, MultilineConfig(Seq("^\\s"))).collect()(0)
    assert(mPrev.getLong(0) == 5L && mPrev.getLong(1) == 2L)
    // a head after the continuation flushes the earlier group
    val prev2 = Seq(("c1", 0, "head"), ("c1", 1, "  cont"), ("c1", 2, "head2"))
      .toDF("conv_id", "turn_idx", "text")
    val mPrev2 = CodecMeters.multilinePending(prev2, MultilineConfig(Seq("^\\s"))).collect()(0)
    assert(mPrev2.getLong(0) == 1L && mPrev2.getLong(1) == 1L) // only head2 pending
    // what=next: buffer survives only when the last line matched
    val next = Seq(("c1", 0, "a \\"), ("c1", 1, "b")).toDF("conv_id", "turn_idx", "text")
    val mNextClosed = CodecMeters.multilinePending(next,
      MultilineConfig(Seq("\\\\$"), what = "next")).collect()(0)
    assert(mNextClosed.getLong(0) == 0L && mNextClosed.getLong(1) == 0L)
    val nextOpen = Seq(("c1", 0, "a \\"), ("c1", 1, "b \\")).toDF("conv_id", "turn_idx", "text")
    val mNextOpen = CodecMeters.multilinePending(nextOpen,
      MultilineConfig(Seq("\\\\$"), what = "next")).collect()(0)
    assert(mNextOpen.getLong(0) == 2L && mNextOpen.getLong(1) == 1L)
  }

  test("RunPipeline main end-to-end with lineage resume") {
    val tmp = java.nio.file.Files.createTempDirectory("graft-runpipe").toString
    TranscriptGen.generate(spark, 8L, 25L, 4).toDF()
      .write.mode("overwrite").parquet(s"$tmp/in")
    // RunPipeline.run is main's body on this suite's session
    val first = RunPipeline.run(spark, s"$tmp/in", s"$tmp/out", "b1", 8, TranscriptPipeline.stages)
    val n1 = Lineage.readData(spark, s"$tmp/out").count()
    assert(first.committed == 8 && first.report.inputTurns == n1)
    // second run is a no-op (all buckets sealed)
    val committed = Lineage.run(
      TranscriptPipeline.run(spark, spark.read.parquet(s"$tmp/in")),
      s"$tmp/out", 8, "b2")
    assert(committed == 0)
    assert(Lineage.readData(spark, s"$tmp/out").count() == n1)
    assert(n1 == spark.read.parquet(s"$tmp/in").count())
  }

  private def sinkMap(report: Metrics.Report): Map[String, (Long, Long)] =
    report.sinks.map(s => s.sink -> (s.turns, s.bytes)).toMap

  private def rescan(root: String, buckets: Set[Int]): Map[String, (Long, Long)] =
    Router.sinkCounts(Lineage.readData(spark, root, buckets)).collect()
      .map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap

  test("RunPipeline's observed per-sink counts equal the oracle's and a re-scan") {
    val (seed, nConvs) = (21L, 40L)
    val tmp = java.nio.file.Files.createTempDirectory("graft-runpipe").toString
    TranscriptGen.generate(spark, seed, nConvs, 4).toDF()
      .write.mode("overwrite").parquet(s"$tmp/in")
    val result = RunPipeline.run(spark, s"$tmp/in", s"$tmp/out", "b1", 8, TranscriptPipeline.stages)
    val oracle = TranscriptGen.generateLocal(seed, nConvs).map(PipelineOracle.process)
      .groupBy(_.sink).view.mapValues { os =>
        (os.size.toLong, os.map(_.turn.text.getBytes("UTF-8").length.toLong).sum)
      }.toMap
    assert(sinkMap(result.report) == oracle)
    assert(sinkMap(result.report) == rescan(s"$tmp/out", Lineage.committed(s"$tmp/out")))
  }

  test("a resumed RunPipeline reports only the rows it committed") {
    val tmp = java.nio.file.Files.createTempDirectory("graft-runpipe").toString
    TranscriptGen.generate(spark, 22L, 40L, 4).toDF()
      .write.mode("overwrite").parquet(s"$tmp/in")
    val out = s"$tmp/out"
    // an earlier run that sealed three buckets, then crashed
    Lineage.run(Router.stripMeta(TranscriptPipeline.run(spark, spark.read.parquet(s"$tmp/in"))),
      out, 8, "b1", maxBucketsToCommit = 3)
    val earlier = Lineage.committed(out)
    assert(earlier.size == 3)
    val resumed = RunPipeline.run(spark, s"$tmp/in", out, "b2", 8, TranscriptPipeline.stages)
    assert(resumed.committed == 5)
    val sealedNow = Lineage.committed(out) -- earlier
    assert(sinkMap(resumed.report) == rescan(out, sealedNow))
    assert(resumed.report.inputTurns ==
      spark.read.parquet(s"$tmp/in").count() - Lineage.readData(spark, out, earlier).count())
    // a re-run over the fully committed root commits and reports nothing
    val noop = RunPipeline.run(spark, s"$tmp/in", out, "b3", 8, TranscriptPipeline.stages)
    assert(noop.committed == 0 && noop.report.inputTurns == 0 && noop.report.sinks.isEmpty)
    assert(noop.report.turnsPerSec == 0.0)
  }
}
