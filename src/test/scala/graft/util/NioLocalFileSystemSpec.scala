package graft.util

import java.io.IOException
import java.net.URI
import java.nio.file.{Files, Path => JPath}

import scala.jdk.CollectionConverters._

import jdk.jfr.Recording
import jdk.jfr.consumer.RecordingFile
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission

import graft.{PipelineOracle, RunPipeline, SparkTestBase, TranscriptPipeline}
import graft.model.TranscriptGen

class NioLocalFileSystemSpec extends SparkTestBase {

  private def initialized[T <: RawLocalFileSystem](fs: T): T = {
    fs.initialize(URI.create("file:///"), new Configuration())
    fs
  }

  private def mode(p: JPath): Int = Files.getAttribute(p, "unix:mode").asInstanceOf[Int] & 0xfff

  private def oct(digits: String): Int = Integer.parseInt(digits, 8)

  test("setPermission leaves the stock mode for every 0000-0777, on files and directories") {
    val stock = initialized(new RawLocalFileSystem)
    val nio = initialized(new NioRawLocalFileSystem)
    def set(fs: RawLocalFileSystem, p: JPath, m: Int): Unit =
      fs.setPermission(new Path(p.toUri), new FsPermission(m.toShort))
    val tmp = Files.createTempDirectory("graft-nio-fs")
    try {
      val files = (Files.createFile(tmp.resolve("stock.f")), Files.createFile(tmp.resolve("nio.f")))
      val dirs = (Files.createDirectory(tmp.resolve("stock.d")), Files.createDirectory(tmp.resolve("nio.d")))
      for ((a, b) <- Seq(files, dirs); m <- 0 to oct("777")) {
        set(stock, a, m)
        set(nio, b, m)
        assert(Files.getPosixFilePermissions(b) == Files.getPosixFilePermissions(a),
          f"mode $m%04o on ${b.getFileName}")
        assert(mode(b) == m && mode(a) == m, f"mode $m%04o on ${b.getFileName}")
      }
      // bits NIO cannot set take the stock path and still match
      set(stock, dirs._1, oct("1755"))
      set(nio, dirs._2, oct("1755"))
      assert(mode(dirs._2) == oct("1755") && mode(dirs._1) == oct("1755"))
      // a missing path is still an IOException
      intercept[IOException](set(nio, tmp.resolve("missing"), oct("644")))
    } finally Fs.deleteRecursively(tmp)
  }

  test("RunPipeline writes through NioLocalFileSystem and starts no chmod process") {
    val (seed, nConvs) = (31L, 40L)
    val tmp = Files.createTempDirectory("graft-nio-run")
    TranscriptGen.generate(spark, seed, nConvs, 4).toDF()
      .write.mode("overwrite").parquet(s"$tmp/in")
    val out = tmp.resolve("out")

    val rec = new Recording()
    rec.enable("jdk.ProcessStart")
    rec.start()
    val result =
      try RunPipeline.run(spark, s"$tmp/in", out.toString, "b1", 8, TranscriptPipeline.stages)
      finally rec.stop()
    val jfr = Files.createTempFile("graft-nio-run", ".jfr")
    val commands =
      try {
        rec.dump(jfr)
        RecordingFile.readAllEvents(jfr).asScala.map(_.getString("command")).toSeq
      } finally { rec.close(); Files.delete(jfr) }
    val chmods = commands.filter(_.startsWith("chmod"))
    assert(chmods.size == 0, s"chmod processes, e.g. ${chmods.take(3)}")

    assert(result.committed == 8)
    val oracle = TranscriptGen.generateLocal(seed, nConvs).map(PipelineOracle.process)
      .groupBy(_.sink).view.mapValues(_.size.toLong).toMap
    assert(result.report.sinks.map(s => s.sink -> s.turns).toMap == oracle)

    // the modes the stock filesystem gives, under Hadoop's default umask 022
    val walk = Files.walk(out.resolve("data"))
    val (files, dirs) =
      try walk.iterator().asScala.toList.tail.partition(Files.isRegularFile(_))
      finally walk.close()
    assert(files.exists(_.toString.endsWith(".parquet")) && files.exists(_.toString.endsWith(".crc")))
    assert(dirs.size == 8)
    files.foreach(f => assert(mode(f) == oct("644"), f.toString))
    dirs.foreach(d => assert(mode(d) == oct("755"), d.toString))

    // the file: FileSystem in effect, so a cached stock one fails here
    // rather than silently slowing the write down
    val fs = new Path(out.toUri).getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(fs.isInstanceOf[NioLocalFileSystem], fs.getClass.getName)
    Fs.deleteRecursively(tmp)
  }
}
