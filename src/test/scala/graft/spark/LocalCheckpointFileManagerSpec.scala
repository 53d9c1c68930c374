package graft.spark

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path => JPath}
import java.nio.file.attribute.FileTime

import scala.jdk.CollectionConverters._

import graft.SparkSpec
import graft.queries.QueryUtil
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileAlreadyExistsException, Path}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

/** [[LocalCheckpointFileManager]]'s atomic-write contract, and a streaming
  * checkpoint written by Spark's default manager resuming under it. */
class LocalCheckpointFileManagerSpec extends SparkSpec {

  private def scratch(): JPath = Files.createTempDirectory("graft-lcfm-")

  private def names(dir: JPath): Set[String] = {
    val ls = Files.list(dir)
    try ls.iterator().asScala.map(_.getFileName.toString).toSet finally ls.close()
  }

  private def manager(dir: JPath) =
    new LocalCheckpointFileManager(new Path(dir.toUri), new Configuration())

  private def write(fm: LocalCheckpointFileManager, p: Path, text: String,
                    overwrite: Boolean): Unit = {
    val out = fm.createAtomic(p, overwrite)
    out.write(text.getBytes(UTF_8))
    out.close()
  }

  private def read(p: JPath): String = new String(Files.readAllBytes(p), UTF_8)

  test("createAtomic publishes the complete file only on close") {
    val dir = scratch(); val fm = manager(dir)
    val target = dir.resolve("0")
    val out = fm.createAtomic(new Path(target.toUri), overwriteIfPossible = false)
    out.write("v1\n{}".getBytes(UTF_8))
    assert(!Files.exists(target), "target visible before close")
    out.close()
    assert(read(target) == "v1\n{}")
    assert(names(dir) == Set("0"))
  }

  test("no-clobber create throws FileAlreadyExistsException and keeps the original") {
    val dir = scratch(); val fm = manager(dir)
    val target = new Path(dir.resolve("0").toUri)
    write(fm, target, "original", overwrite = false)
    intercept[FileAlreadyExistsException] {
      write(fm, target, "clobber", overwrite = false)
    }
    assert(read(dir.resolve("0")) == "original")
    assert(names(dir) == Set("0"), "a temp file was left behind")
  }

  test("overwrite replaces the target") {
    val dir = scratch(); val fm = manager(dir)
    val target = new Path(dir.resolve("metadata").toUri)
    write(fm, target, "old", overwrite = true)
    write(fm, target, "new", overwrite = true)
    assert(read(dir.resolve("metadata")) == "new")
    assert(names(dir) == Set("metadata"))
  }

  test("cancel publishes nothing and leaves no temp file") {
    val dir = scratch(); val fm = manager(dir)
    val out = fm.createAtomic(new Path(dir.resolve("0").toUri), overwriteIfPossible = false)
    out.write("partial".getBytes(UTF_8))
    out.cancel()
    out.close()
    assert(names(dir).isEmpty)
  }

  test("list never returns in-flight temp files") {
    val dir = scratch(); val fm = manager(dir)
    write(fm, new Path(dir.resolve("0").toUri), "done", overwrite = false)
    val open = fm.createAtomic(new Path(dir.resolve("1").toUri), overwriteIfPossible = false)
    try {
      assert(names(dir).size == 2, "the in-flight temp file should be on disk")
      assert(fm.list(new Path(dir.toUri)).map(_.getPath.getName).toSet == Set("0"))
    } finally open.cancel()
  }

  test("a non-local path fails at construction") {
    intercept[IllegalArgumentException] {
      new LocalCheckpointFileManager(new Path("hdfs://namenode:8020/ckpt"), new Configuration())
    }
  }

  test("a checkpoint written by Spark's default manager resumes under this one") {
    val key = "spark.sql.streaming.checkpointFileManagerClass"
    val changelog = "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled"
    val feed = scratch()
    // four one-file micro-batches; window [10 s, 20 s) is still open at the
    // split after the second file and takes a row from the third
    val files = Seq(Seq(1 -> "a", 4 -> "b", 7 -> "a"), Seq(12 -> "a", 16 -> "b"),
      Seq(18 -> "a", 25 -> "b"), Seq(31 -> "a", 44 -> "b"))
    files.zipWithIndex.foreach { case (rows, i) =>
      val f = feed.resolve(f"f$i%03d.json")
      Files.write(f, rows.map { case (t, k) =>
        f"""{"ts":"2024-01-01 00:00:$t%02d","k":"$k","v":$t}"""
      }.mkString("\n").getBytes(UTF_8))
      Files.setLastModifiedTime(f, FileTime.fromMillis(1700000000000L + i * 2000L))
    }
    def run(dir: JPath, out: JPath, ckpt: JPath, manager: Option[String]): Unit = {
      val olds = Seq(key, changelog).map(k => k -> spark.conf.getOption(k))
      manager match {
        case Some(m) => spark.conf.set(key, m)
        case None => spark.conf.unset(key)
      }
      spark.conf.set(changelog, "true")
      try {
        spark.readStream.schema("ts TIMESTAMP, k STRING, v LONG")
          .option("maxFilesPerTrigger", "1").json(dir.toString)
          .withWatermark("ts", "0 seconds")
          .groupBy(window(col("ts"), "10 seconds"), col("k"))
          .agg(sum(col("v")).as("s"), count(lit(1)).as("n"))
          .select(col("window.start").as("start"), col("k"), col("s"), col("n"))
          .writeStream.format("parquet").outputMode("append")
          .option("path", out.toString).option("checkpointLocation", ckpt.toString)
          .trigger(Trigger.AvailableNow()).start().awaitTermination()
      } finally olds.foreach {
        case (k, Some(v)) => spark.conf.set(k, v)
        case (k, None) => spark.conf.unset(k)
      }
    }
    def output(out: JPath): DataFrame = spark.read.parquet(out.toString)

    val whole = scratch()
    run(feed, whole.resolve("out"), whole.resolve("ckpt"), None)

    val split = scratch(); val held = scratch()
    val (out, ckpt) = (split.resolve("out"), split.resolve("ckpt"))
    val late = names(feed).toSeq.sorted.drop(2)
    late.foreach(n => Files.move(feed.resolve(n), held.resolve(n)))
    run(feed, out, ckpt, None)
    assert(names(ckpt.resolve("offsets")).exists(_.endsWith(".crc")),
      "phase 1 should run under Spark's checksummed default manager")
    late.foreach(n => Files.move(held.resolve(n), feed.resolve(n)))
    run(feed, out, ckpt, Some(classOf[LocalCheckpointFileManager].getName))
    val offsets = names(ckpt.resolve("offsets"))
    val latest = offsets.filter(_.forall(_.isDigit)).maxBy(_.toLong)
    assert(!offsets.contains(s".$latest.crc"),
      s"phase 2 should write its offsets without a checksum sidecar: $offsets")

    val rows = output(whole.resolve("out")).count()
    assert(rows > 0)
    val diff = QueryUtil.symmetricDiffCount(output(whole.resolve("out")), output(out))
      .head().getLong(0)
    assert(diff == 0L, s"the cross-manager restart differs from the whole run in $diff rows")
  }
}
