package graft.sources

import java.nio.file.{Files, Paths, StandardCopyOption}

import graft.SparkSpec
import org.apache.spark.sql.functions._

/** Micro-batch streaming read of the graft DSv2 source: files appended
  * to a watched directory convert incrementally through the same typed
  * kernels as the batch scan, with offsets = seen-file sets. The gate
  * is typed row equality against the BATCH read of the same directory
  * (same inference, same kernels ⇒ identical values), plus the
  * incremental contract (second file arrives in a later micro-batch,
  * first file's rows are not re-emitted). */
class GraftStreamSourceSpec extends SparkSpec {

  private def tsv(rows: Range): String =
    ("id\tname\tscore\tflag" +:
      rows.map(i => s"$i\tname_$i\t${i * 0.5}\t${if (i % 2 == 0) "yes" else "no"}")
      ).mkString("", "\n", "\n")

  /** Stage a complete file into the watched dir atomically (write
    * outside, rename in) — the writer contract the source documents. */
  private def stage(dir: String, name: String, content: String): Unit = {
    val tmp = Files.createTempFile(tempDir("graft_stream_src"), "graft_stream_src", ".tsv")
    Files.write(tmp, content.getBytes("UTF-8"))
    Files.move(tmp, Paths.get(dir, name), StandardCopyOption.ATOMIC_MOVE)
  }

  test("readStream format(graft): incremental file conversion matches the batch read") {
    val dir = tempDir("graft_stream_dsv2").toString
    stage(dir, "a.tsv", tsv(0 until 500))

    val sink = "graft_stream_sink"
    spark.catalog.dropTempView(sink)
    val q = spark.readStream.format("graft").load(dir)
      .writeStream.outputMode("append").format("memory").queryName(sink).start()
    try {
      q.processAllAvailable()
      val afterFirst = spark.table(sink).count()
      assert(afterFirst == 500, s"first micro-batch: $afterFirst rows")

      stage(dir, "b.tsv", tsv(500 until 800))
      q.processAllAvailable()

      val streamed = spark.table(sink).orderBy("id").collect()
      assert(streamed.length == 800, s"after second file: ${streamed.length} rows (no re-emission, no loss)")
      val batch = spark.read.format("graft").load(dir).orderBy("id").collect()
      streamed.zip(batch).foreach { case (a, b) =>
        assert(a == b, s"typed row mismatch:\n  stream: $a\n  batch:  $b")
      }
      // schema carries the inferred types, not all-string
      val types = spark.table(sink).schema.fields.map(f => f.name -> f.dataType.typeName).toMap
      assert(types("id") == "long" && types("score") == "double" && types("flag") == "boolean",
        s"stream schema not typed: $types")
    } finally {
      q.stop()
      import scala.jdk.CollectionConverters._
      val walk = Files.walk(Paths.get(dir))
      try walk.iterator().asScala.toSeq.reverse.foreach(p => Files.deleteIfExists(p))
      finally walk.close()
    }
  }

  test("streaming offsets round-trip through JSON (checkpoint recovery contract)") {
    val files = Seq("/tmp/a b.tsv", "/tmp/quo\"te.tsv", "/tmp/back\\slash.tsv")
    val off = GraftFilesOffset(files)
    assert(GraftFilesOffset.fromJson(off.json()) == off,
      s"offset JSON round-trip broke: ${off.json()}")
    assert(GraftFilesOffset.fromJson(GraftFilesOffset(Nil).json()) == GraftFilesOffset(Nil))
  }

  test("pushed filter reaches the streaming scan and prunes rows") {
    val dir = tempDir("graft_stream_push").toString
    stage(dir, "a.tsv", tsv(0 until 300))
    val sink = "graft_stream_push_sink"
    spark.catalog.dropTempView(sink)
    val q = spark.readStream.format("graft").load(dir)
      .filter(col("id") >= 250L).select("id", "score")
      .writeStream.outputMode("append").format("memory").queryName(sink).start()
    try {
      q.processAllAvailable()
      val rows = spark.table(sink).collect()
      assert(rows.length == 50, s"filtered stream: ${rows.length} rows")
      assert(rows.map(_.getLong(0)).min == 250L)
    } finally {
      q.stop()
      import scala.jdk.CollectionConverters._
      val walk = Files.walk(Paths.get(dir))
      try walk.iterator().asScala.toSeq.reverse.foreach(p => Files.deleteIfExists(p))
      finally walk.close()
    }
  }
}
