package graft.lineage

import java.nio.file.Files

import graft.SparkTestBase
import graft.model.TranscriptGen
import org.apache.spark.graftbridge.CoreBridge
import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent}
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.functions._

/** Resume/exactly-once test (FIXTURES.md §5.4): kill after a partial
  * commit → rerun → final per-sink counts identical to a clean run, no
  * duplicates — the registrar's crash-safety contract
  * (`lc-lib/registrar/registrar.go:94-146`) upgraded to idempotent
  * commits.
  */
class LineageSpec extends SparkTestBase {

  private def freshRoot(): String =
    Files.createTempDirectory("graft-lineage").toString

  private lazy val turns =
    TranscriptGen.generate(spark, seed = 13L, nConvs = 30L, parallelism = 4).toDF()

  /** Every marker's rows and bytes against a scan of its bucket's
    * committed data (bytes = summed UTF-8 length of `text`, 0 without it).
    */
  private def assertMarkersMatchData(root: String): Unit = {
    val markers = Lineage.readEntries(spark, root).select("partitionId", "rows", "bytes")
      .collect().map(r => r.getInt(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(markers.keySet == Lineage.committed(root))
    val scanned = markers.keys.map { b =>
      val data = Lineage.readData(spark, root, Set(b))
      val bytes =
        if (data.columns.contains("text")) coalesce(sum(octet_length(col("text"))), lit(0L))
        else lit(0L)
      val r = data.agg(count(lit(1)), bytes).collect()(0)
      b -> (r.getLong(0), r.getLong(1))
    }.toMap
    assert(markers == scanned)
  }

  test("clean run commits all buckets exactly once") {
    val root = freshRoot()
    val n = Lineage.run(turns, root, nBuckets = 8, batchId = "b1")
    assert(n == Lineage.committed(root).size)
    val got = Lineage.readData(spark, root)
    assert(got.count() == turns.count())
    assert(got.select("conv_id", "turn_idx").distinct().count() == turns.count())
  }

  test("crash after partial commit, rerun yields identical exactly-once output") {
    val root = freshRoot()
    // simulated crash: only 3 of 8 buckets sealed
    val first = Lineage.run(turns, root, nBuckets = 8, batchId = "b1", maxBucketsToCommit = 3)
    assert(first == 3)
    assert(Lineage.committed(root).size == 3)
    assertMarkersMatchData(root)
    // resumed run processes only the remaining buckets
    val second = Lineage.run(turns, root, nBuckets = 8, batchId = "b2")
    assert(Lineage.committed(root).size == first + second)
    val got = Lineage.readData(spark, root)
    assert(got.count() == turns.count())
    // no duplicated rows across the two runs
    assert(got.select("conv_id", "turn_idx").distinct().count() == turns.count())
    // lineage row counts sum to the input size
    val lineageRows = Lineage.readEntries(spark, root).agg(sum("rows")).collect()(0).getLong(0)
    assert(lineageRows == turns.count())
    assertMarkersMatchData(root)
  }

  test("commits are physical-parallelism-invariant; resume works across widths") {
    // the N vs 4N cluster case: the same logical input arriving with
    // different physical partitioning must seal identical buckets with
    // identical per-bucket lineage counts (bucket = pmod(hash(conv_id)),
    // a pure function of the data), and a job that crashed on one width
    // must resume correctly on another
    val rootA = freshRoot()
    val rootB = freshRoot()
    Lineage.run(turns.repartition(2), rootA, nBuckets = 8, batchId = "w2")
    Lineage.run(turns.repartition(32), rootB, nBuckets = 8, batchId = "w32")
    assert(Lineage.committed(rootA) == Lineage.committed(rootB))
    val perBucket = (root: String) => Lineage.readEntries(spark, root)
      .select("partitionId", "rows").collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    assert(perBucket(rootA) == perBucket(rootB))
    assertMarkersMatchData(rootA)
    assertMarkersMatchData(rootB)
    val a = Lineage.readData(spark, rootA).select("conv_id", "turn_idx", "text")
    val b = Lineage.readData(spark, rootB).select("conv_id", "turn_idx", "text")
    assert(a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty)

    // crash at width 2, resume at width 32
    val rootC = freshRoot()
    Lineage.run(turns.repartition(2), rootC, nBuckets = 8, batchId = "w2", maxBucketsToCommit = 3)
    Lineage.run(turns.repartition(32), rootC, nBuckets = 8, batchId = "w32")
    val c = Lineage.readData(spark, rootC).select("conv_id", "turn_idx", "text")
    assert(c.exceptAll(a).isEmpty && a.exceptAll(c).isEmpty)
    assertMarkersMatchData(rootC)
  }

  test("rerun of a fully committed root is a no-op") {
    val root = freshRoot()
    Lineage.run(turns, root, nBuckets = 4, batchId = "b1")
    val entries = Lineage.readEntries(spark, root).collect().toSet
    val again = Lineage.run(turns, root, nBuckets = 4, batchId = "b2")
    assert(again == 0)
    assert(Lineage.readEntries(spark, root).collect().toSet == entries)
    assertMarkersMatchData(root)
    assert(Lineage.readData(spark, root).count() == turns.count())
  }

  test("a stale .tmp marker (crash between write and atomic move) is never read as a lineage entry") {
    val root = freshRoot()
    Lineage.run(turns, root, nBuckets = 4, batchId = "b1")
    val entriesBefore = Lineage.readEntries(spark, root).collect().toSet
    // simulate the crash residue: a COMPLETE tmp (worst case — it parses)
    val dir = java.nio.file.Paths.get(root, "lineage")
    Files.writeString(dir.resolve("p0.json.tmp"),
      """{"partitionId":0,"rows":999999,"bytes":999999,"batchId":"ghost"}""")
    // and a torn one
    Files.writeString(dir.resolve("p1.json.tmp"), """{"partitionId":1,"ro""")
    val entriesAfter = Lineage.readEntries(spark, root).collect().toSet
    assert(entriesAfter == entriesBefore,
      "tmp markers must not double-count or corrupt lineage aggregates")
  }

  test("readData on a fresh root fails with the contract error, not a schema-inference exception") {
    val root = freshRoot()
    val e = intercept[IllegalArgumentException](Lineage.readData(spark, root))
    assert(e.getMessage.contains("no committed buckets"))
  }

  test("batchIds are confined to a path- and JSON-safe charset") {
    val root = freshRoot()
    val e1 = intercept[IllegalArgumentException](
      Lineage.run(turns, root, nBuckets = 2, batchId = "b\"quote"))
    assert(e1.getMessage.contains("batchId"))
    intercept[IllegalArgumentException](
      Lineage.run(turns, root, nBuckets = 2, batchId = "../escape"))
  }

  test("a frame without a text column commits with bytes=0 instead of failing after staging") {
    val root = freshRoot()
    import spark.implicits._
    val df = (0L until 40L).map(i => (s"c${i % 7}", i)).toDF("conv_id", "n")
    val n = Lineage.run(df, root, nBuckets = 4, batchId = "b1")
    assert(n > 0)
    val entries = Lineage.readEntries(spark, root)
    assert(entries.agg(sum("rows")).collect()(0).getLong(0) == 40L)
    assert(entries.agg(sum("bytes")).collect()(0).getLong(0) == 0L)
    assert(Lineage.readData(spark, root).count() == 40L)
    assertMarkersMatchData(root)
  }

  test("a bucket whose text is all NULL commits with bytes=0, as a re-scan reads") {
    val root = freshRoot()
    val nullBucket = pmod(hash(col("conv_id")), lit(4)) === 0
    Lineage.run(turns.withColumn("text", when(nullBucket, lit(null).cast("string"))
      .otherwise(col("text"))), root, nBuckets = 4, batchId = "n1")
    val bucket0 = Lineage.readEntries(spark, root).filter(col("partitionId") === 0)
      .select("rows", "bytes").collect()
    assert(bucket0.length == 1 && bucket0(0).getLong(0) > 0 && bucket0(0).getLong(1) == 0L)
    assertMarkersMatchData(root)
  }

  test("a run is one SQL execution: the write, with no scan of the staged data") {
    // counts only executions started from this thread: the job tag rides
    // on each execution's start event
    val tag = "lineage-spec-executions"
    val started = new java.util.concurrent.atomic.AtomicInteger()
    val listener = new SparkListener {
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case s: SparkListenerSQLExecutionStart if s.jobTags.contains(tag) =>
          started.incrementAndGet()
        case _ =>
      }
    }
    def executions(body: => Unit): Int = {
      started.set(0)
      spark.sparkContext.addJobTag(tag)
      try body finally spark.sparkContext.removeJobTag(tag)
      CoreBridge.waitListenerBusEmpty(spark.sparkContext)
      started.get()
    }
    val root = freshRoot()
    spark.sparkContext.addSparkListener(listener)
    try {
      assert(executions(Lineage.run(turns, root, nBuckets = 8, batchId = "b1",
        maxBucketsToCommit = 3)) == 1)
      assert(executions(Lineage.run(turns, root, nBuckets = 8, batchId = "b2")) == 1)
    } finally spark.sparkContext.removeSparkListener(listener)
    assert(Lineage.committed(root).size == 8)
  }
}
