package graft.lineage

import java.nio.file.{Files, Path, Paths, StandardCopyOption}

import scala.concurrent.duration.DurationInt

import org.apache.spark.sql.{Column, DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.{ColumnBridge => EU}

import graft.functions.BucketTally

/** Exactly-once resumable commits — the registrar upgraded for a batch
  * engine (north rule: "checkpoints per-partition offsets into a lineage
  * table so resumed runs are exactly-once").
  *
  * The reference persists per-file resume offsets with an atomic
  * write-to-`.new`-then-rename (`lc-lib/registrar/registrar.go:94-199`)
  * and only advances offsets when the whole downstream chain has acked
  * (`event_ack.go:37-66`). The batch-engine equivalent: the input is
  * bucketed by `pmod(hash(conv_id), nBuckets)`; each bucket's output is
  * written to a staging directory in ONE partitioned pass, then per bucket
  * moved into place and sealed with an atomically-renamed lineage marker.
  * A resumed run skips every bucket whose marker exists and re-does the
  * rest — re-writing a bucket is idempotent (full overwrite before the
  * marker appears), so crash at ANY point yields exactly-once output.
  *
  * Like the reference's acks, which carry the counts the registrar
  * records, the write itself counts what it wrote: a marker's rows and
  * bytes are observed on the rows of the staging write, so a run is one
  * SQL execution and never reads back the staged parquet.
  *
  * The staging write creates two files per bucket per writing task (the
  * parquet part and its `.crc`) plus a directory per bucket per task. On a
  * session without libhadoop, Hadoop's stock local filesystem sets each
  * one's mode by starting a `chmod` process; `RunPipeline` sessions (when
  * `spark.hadoop.fs.file.impl` is unset) and the test session write
  * through [[graft.util.NioLocalFileSystem]], which does it in-process.
  *
  * On a real cluster the same seam is an Iceberg snapshot commit; this
  * directory implementation keeps identical semantics without the runtime
  * jar (SURVEY.md §7 `TableIO` seam).
  */
object Lineage {

  val BucketCol = "_bucket"

  final case class Entry(partitionId: Int, rows: Long, bytes: Long, batchId: String)

  private def lineageDir(root: String): Path = Paths.get(root, "lineage")
  private def dataDir(root: String, bucket: Int): Path = Paths.get(root, "data", s"p$bucket")

  def committed(root: String): Set[Int] = {
    val d = lineageDir(root)
    if (!Files.isDirectory(d)) return Set.empty
    val ls = Files.list(d) // close: the stream holds a dir handle, and
    try {                  // this runs per admin poll on long-lived drivers
      val it = ls.iterator()
      val out = scala.collection.mutable.Set.empty[Int]
      while (it.hasNext) {
        val name = it.next().getFileName.toString
        if (name.startsWith("p") && name.endsWith(".json"))
          out += name.stripPrefix("p").stripSuffix(".json").toInt
      }
      out.toSet
    } finally ls.close()
  }

  def readEntries(spark: SparkSession, root: String): DataFrame = {
    val d = lineageDir(root)
    if (!Files.isDirectory(d) || committed(root).isEmpty) {
      import spark.implicits._
      Seq.empty[(Int, Long, Long, String)].toDF("partitionId", "rows", "bytes", "batchId")
    } else
      // glob ONLY the sealed markers: a crash between the tmp write and
      // the atomic move leaves p*.json.tmp behind, and a directory read
      // would ingest it as a duplicate (or torn) lineage entry
      spark.read.json(d.resolve("p*.json").toString).selectExpr(
        "cast(partitionId as int) partitionId", "cast(rows as long) rows",
        "cast(bytes as long) bytes", "batchId")
  }

  /** batchIds are interpolated into marker JSON and staging paths:
    * restrict to a filesystem- and JSON-safe charset so a quote can't
    * corrupt the marker and a '/' can't redirect the staging dir.
    */
  private def requireSafeBatchId(batchId: String): Unit =
    require(batchId.matches("[A-Za-z0-9._=-]+"),
      s"batchId must match [A-Za-z0-9._=-]+, got '$batchId'")

  private def writeMarker(root: String, e: Entry): Unit = {
    requireSafeBatchId(e.batchId)
    val dir = lineageDir(root)
    Files.createDirectories(dir)
    val tmp = dir.resolve(s"p${e.partitionId}.json.tmp")
    val fin = dir.resolve(s"p${e.partitionId}.json")
    val json =
      s"""{"partitionId":${e.partitionId},"rows":${e.rows},"bytes":${e.bytes},"batchId":"${e.batchId}"}"""
    Files.writeString(tmp, json)
    Files.move(tmp, fin, StandardCopyOption.ATOMIC_MOVE,
      StandardCopyOption.REPLACE_EXISTING)
  }

  private def deleteRecursively(p: Path): Unit =
    graft.util.Fs.deleteRecursively(p)

  /** What one [[runObserving]] call committed, and the caller's observed
    * aggregates over the rows it wrote, by name.
    */
  final case class Outcome(committed: Int, observed: Map[String, Any])

  private val TallyCol = "_lineage_tally"

  /** Longest wait for the write's observed metrics. They reach the driver
    * on the listener bus, normally within milliseconds of the write.
    */
  private val ObservedTimeout = 60.seconds

  /** Process `df` into `root` exactly once, resumable.
    *
    * @param maxBucketsToCommit test hook: stop committing after N buckets
    *        to simulate a crash mid-run (remaining staging data is
    *        discarded, like an unflushed registrar write).
    * @return number of buckets committed in THIS run.
    */
  def run(df: DataFrame, root: String, nBuckets: Int, batchId: String,
      keyCol: String = "conv_id",
      maxBucketsToCommit: Int = Int.MaxValue): Int =
    runObserving(df, root, nBuckets, batchId, Nil, keyCol, maxBucketsToCommit).committed

  /** [[run]], also evaluating the aggregate columns `metrics` over every
    * row this run writes (the uncommitted buckets only) and returning
    * their values. The whole run is ONE SQL execution, the staging write:
    * an `Observation` on the rows being written yields both these metrics
    * and the per-bucket rows and bytes for the lineage markers, so nothing
    * written is read back. Observed metrics are accumulators merged once
    * per partition from the first successful attempt of the write's own
    * result stage, so the counts are exact under task retries.
    *
    * With `maxBucketsToCommit` cutting the run short, `metrics` still
    * cover every row staged, including those of the buckets not sealed.
    */
  def runObserving(df: DataFrame, root: String, nBuckets: Int, batchId: String,
      metrics: Seq[Column], keyCol: String = "conv_id",
      maxBucketsToCommit: Int = Int.MaxValue): Outcome = {
    requireSafeBatchId(batchId)
    val done = committed(root)
    val bucketed = df.withColumn(BucketCol, pmod(hash(col(keyCol)), lit(nBuckets)))
    val todo = bucketed.filter(!col(BucketCol).isin(done.toSeq: _*))

    // per-bucket rows and text bytes for the markers, counted as the rows
    // are written; a frame without a text column (the API is otherwise
    // schema-generic) records bytes=0, and so does all-NULL text
    val bytes = if (df.columns.contains("text")) octet_length(col("text")) else lit(0L)
    val obs = Observation(s"lineage_$batchId")
    val observed = todo.observe(obs,
      BucketTally(col(BucketCol), bytes, nBuckets).as(TallyCol), metrics: _*)

    val staging = Paths.get(root, s"_staging_$batchId")
    deleteRecursively(staging)
    // one partitioned pass writes every uncommitted bucket
    observed.write.mode("overwrite").partitionBy(BucketCol).parquet(staging.toString)
    val values = EU.awaitObserved(obs, ObservedTimeout)
    val tally = values(TallyCol).asInstanceOf[collection.Seq[Long]]

    var committedNow = 0
    for (b <- 0 until nBuckets if tally(b) > 0 && committedNow < maxBucketsToCommit) {
      val src = staging.resolve(s"$BucketCol=$b")
      val dst = dataDir(root, b)
      if (Files.exists(src)) {
        deleteRecursively(dst) // idempotent re-do of an unsealed bucket
        Files.createDirectories(dst.getParent)
        Files.move(src, dst, StandardCopyOption.ATOMIC_MOVE)
        writeMarker(root, Entry(b, tally(b), tally(nBuckets + b), batchId))
        committedNow += 1
      }
    }
    deleteRecursively(staging)
    Outcome(committedNow, values - TallyCol)
  }

  /** Read back all committed data. */
  def readData(spark: SparkSession, root: String): DataFrame =
    readData(spark, root, committed(root))

  /** Read exactly the given committed-bucket set — for callers that have
    * already listed the markers (e.g. as a cache key) and need the data
    * scanned to be CONSISTENT with that listing rather than with a
    * second, later one.
    */
  def readData(spark: SparkSession, root: String, buckets: Set[Int]): DataFrame = {
    // an empty path list would surface as an obscure schema-inference
    // AnalysisException; the data schema is unknowable here, so fail
    // with the actual contract (callers with an empty-ok path guard on
    // committed(root).nonEmpty, as AdminServer does)
    require(buckets.nonEmpty,
      s"no committed buckets under $root — nothing to read " +
        "(guard with committed(root).nonEmpty for an empty-ok caller)")
    spark.read.parquet(
      buckets.toSeq.sorted.map(b => dataDir(root, b).toString): _*)
  }
}
