package graft.sinks

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String

import graft.SparkSpec

class SinksSpec extends SparkSpec {
  import spark.implicits._

  test("writePipeChunks: pipe lines, null fidelity, one file per partition") {
    val dir = Files.createTempDirectory("sink").toString + "/chunks"
    val df = Seq((1L, Some("a"), 1.5), (2L, None, 2.5), (3L, Some("c"), 3.5))
      .toDF("id", "s", "v").repartition(2)
    Sinks.writePipeChunks(df, Seq($"id", $"s", $"v"), $"id", dir)
    val lines = spark.read.text(dir).as[String].collect().sorted
    assert(lines.toSeq == Seq("1|a|1.5", "2|null|2.5", "3|c|3.5"))
    val parts = new java.io.File(dir).listFiles()
      .count(f => f.getName.startsWith("part-"))
    assert(parts == 2) // one chunk file per partition, like chunk<i>
  }

  /** Every file under `dir`, relative names, sorted. */
  private def tree(dir: String): Seq[String] = {
    val root = java.nio.file.Paths.get(dir)
    val s = Files.walk(root)
    try s.iterator.asScala.filter(Files.isRegularFile(_))
      .map(root.relativize(_).toString).toVector.sorted
    finally s.close()
  }

  test("writePipeChunks replaces a Spark text write whole, leaving only part- files") {
    val dir = Files.createTempDirectory("sink").toString + "/chunks"
    Seq("old1", "old2").toDF("value").repartition(2).write.text(dir)
    val stale = java.nio.file.Paths.get(dir, "_temporary", "0", "part-x")
    Files.createDirectories(stale.getParent)
    Files.write(stale, "old3\n".getBytes(UTF_8))
    assert(tree(dir).exists(_.endsWith("-c000.txt")), tree(dir))
    assert(tree(dir).contains("_SUCCESS"), tree(dir))
    assert(tree(dir).exists(_.endsWith(".crc")), tree(dir))

    Sinks.writePipeChunks(Seq((1L, "a"), (2L, "b")).toDF("id", "s"),
      Seq($"id", $"s"), $"id", dir)
    assert(tree(dir).nonEmpty && tree(dir).forall(_.startsWith("part-")),
      tree(dir))
    assert(spark.read.text(dir).as[String].collect().sorted.toSeq ==
      Seq("1|a", "2|b"))
  }

  test("writeChunk: a retried partition leaves one file with the retry's lines") {
    val dir = Files.createTempDirectory("sink")
    def lines(ls: String*) = ls.iterator.map(UTF8String.fromString)
    Sinks.writeChunk(dir, 3, 7L, lines("a|1", "b|2"))
    Sinks.writeChunk(dir, 3, 8L, lines("c|3"))
    assert(tree(dir.toString) == Seq("part-00003.txt"))
    assert(new String(Files.readAllBytes(dir.resolve("part-00003.txt")),
      UTF_8) == "c|3\n")
  }

  test("writeChunk: a partition that throws leaves no chunk and no temp file") {
    val dir = Files.createTempDirectory("sink")
    val rows = Iterator.tabulate(5) { i =>
      if (i == 3) throw new IllegalStateException("task died")
      UTF8String.fromString(s"$i|x")
    }
    val e = intercept[IllegalStateException](Sinks.writeChunk(dir, 0, 1L, rows))
    assert(e.getMessage == "task died")
    assert(tree(dir.toString).isEmpty)
  }

  test("writePipeChunks: empty partitions write no file; the text read returns the lines") {
    val dir = Files.createTempDirectory("sink").toString + "/sparse"
    val df = spark.range(0, 3, 1, 8).toDF("id") // 8 slices, 5 of them empty
    assert(df.rdd.getNumPartitions == 8)
    Sinks.writePipeChunks(df, Seq($"id", lit(null)), $"id", dir)
    assert(tree(dir).length == 3, tree(dir))
    assert(spark.read.text(dir).as[String].collect().sorted.toSeq ==
      Seq("0|null", "1|null", "2|null"))
    val none = Files.createTempDirectory("sink")
    Sinks.writeChunk(none, 0, 1L, Iterator.empty)
    assert(tree(none.toString).isEmpty)
  }

  test("writePipeChunks reports each partition's line count and largest key") {
    val dir = Files.createTempDirectory("sink").toString + "/keys"
    val df = spark.range(0, 6, 1, 3).toDF("id") // slices {0,1} {2,3} {4,5}
    val chunks = Sinks.writePipeChunks(df, Seq($"id"),
      when($"id" >= 2, $"id" * 10), dir)
    assert(chunks == Seq(Sinks.Chunk(2, None), Sinks.Chunk(2, Some(30L)),
      Sinks.Chunk(2, Some(50L))))
    assert(tree(dir).length == 3, tree(dir))
    val none = Sinks.writePipeChunks(df.filter($"id" < 0), Seq($"id"), $"id", dir)
    assert(none.forall(_ == Sinks.Chunk(0, None)) && tree(dir).isEmpty, none)
  }

  test("writePipeChunks takes a file: URI and rejects other schemes") {
    val dir = Files.createTempDirectory("sink").resolve("uri")
    Sinks.writePipeChunks(Seq(1L).toDF("id"), Seq($"id"), $"id", dir.toUri.toString)
    assert(spark.read.text(dir.toString).as[String].collect().toSeq == Seq("1"))
    val e = intercept[IllegalArgumentException](Sinks.writePipeChunks(
      Seq(1L).toDF("id"), Seq($"id"), $"id", "hdfs://localhost:1/graft/chunks"))
    assert(e.getMessage.contains("hdfs"), e.getMessage)
  }

  test("orc round-trip preserves schema and values") {
    // second columnar format besides parquet — same writer contract
    val dir = Files.createTempDirectory("sink").toString + "/orc"
    val df = Seq((1L, "a", 1.5), (2L, null.asInstanceOf[String], 2.5))
      .toDF("id", "s", "v")
    df.write.mode("overwrite").orc(dir)
    val back = spark.read.orc(dir)
    // file formats widen nullability on read; names/types must survive
    assert(back.schema.map(f => (f.name, f.dataType)) ==
      df.schema.map(f => (f.name, f.dataType)))
    assert(back.orderBy($"id").as[(Long, String, Double)].collect().toSeq ==
      Seq((1L, "a", 1.5), (2L, null, 2.5)))
  }
}
