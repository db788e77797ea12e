package perfbench

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import graft.SparkEntry

/** The read side: a fixed set of `SparkEntry.queries`, one or two per
  * domain, over the tables in `perfbench/data/sf0.001`. One session runs
  * a cold pass and then warm passes, each in an order permuted by the
  * seed. Every result's fingerprint must equal the expected one.
  */
object QueryMix {
  /** query → domain. One pass covers every domain and includes the queries
    * the roadmap names as slow (`q_dedup_clusters`, `q_ann_cosine`,
    * `q_span_removal`, `q_stream_sessions`), within the run's time. Each
    * query dropped to fit that time was a second one of its domain.
    */
  val Queries: Seq[(String, String)] = Seq(
    "q_grok_nginx" -> "parse_route", "q_router" -> "parse_route",
    "q_dedup_clusters" -> "dedup",
    "q_ann_cosine" -> "sim",
    "q_span_removal" -> "text",
    "q_percentile_latency" -> "stats_olap",
    "q_stream_sessions" -> "streaming",
    "q_multimodal" -> "other")

  val Tables = Seq("region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings")

  val DataDir = Paths.get("perfbench", "data", "sf0.001").toAbsolutePath.toString
  val ExpectedFile = Paths.get("perfbench", "expected_fingerprints.tsv")

  /** name → "rows:hash", from the tab-separated expected file. */
  def expected(): Map[String, String] =
    Files.readAllLines(ExpectedFile).asScala.filterNot(_.startsWith("#")).map(_.split("\t"))
      .collect { case Array(name, fp) => name -> fp }.toMap

  /** One session: the cold pass, warm passes, then the set-up. The set-up
    * reads every table, `SetupReps` times, timing each read of all of
    * them. The queries read the committed tables themselves and need
    * nothing from it, so it runs last, where it cannot warm the cold pass.
    */
  def run(cfg: Main.Config, res: Result): Unit = {
    val want = expected()
    val fns = SparkEntry.queries
    val (spark, sessionSec) = Main.seconds(Main.session(cfg.cpus))
    res.extra("session_s") = sessionSec
    val seen = scala.collection.mutable.LinkedHashMap.empty[String, String]

    def pass(p: Int, phase: String, traced: Boolean): Unit = {
      val attached = if (traced) Some(new Trace.Attached(spark)) else None
      val order = new scala.util.Random(cfg.seed * 1000003L + p).shuffle(Queries)
      val start = Main.nowMs
      order.foreach { case (name, domain) =>
        res.attempt(name) {
          val cg0 = Trace.codegen()
          val t0 = Main.nowMs
          val df = fns(name)(spark, DataDir)
          val rows = df.collect()
          val t1 = Main.nowMs
          val cg1 = Trace.codegen()
          res.op("name" -> name, "domain" -> domain, "phase" -> phase, "pass" -> p,
            "traced" -> traced, "start_ms" -> t0, "end_ms" -> t1, "items" -> 1,
            "compile_ns" -> (cg1._1 - cg0._1), "compiles" -> (cg1._2 - cg0._2))
          val fp = Fingerprint.of(df.columns.toSeq, rows)
          seen(name) = fp
          res.check(name, "fingerprint", want.get(name).contains(fp),
            s"got $fp, expected ${want.getOrElse(name, "none")}")
        }
      }
      attached.foreach(_.detach())
      res.round("name" -> s"pass-$p", "phase" -> phase, "traced" -> traced,
        "start_ms" -> start, "end_ms" -> Main.nowMs, "items" -> order.length)
    }

    pass(0, "cold", cfg.traced)
    Main.warmRounds(cfg, res, 2)((p, traced) => pass(p, "warm", traced))
    for (_ <- 1 to Ingest.SetupReps)
      res.setup += Main.seconds(
        Tables.foreach(t => spark.read.parquet(s"$DataDir/$t.parquet").count()))._2
    res.extra("fingerprints") = seen.toMap
    spark.stop()
  }
}
