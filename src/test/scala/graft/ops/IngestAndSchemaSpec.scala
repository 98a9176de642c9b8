package graft.ops

import graft.SparkTestBase
import java.nio.file.Files
import java.sql.Timestamp
import org.apache.spark.sql.functions._

class IngestAndSchemaSpec extends SparkTestBase {
  import spark.implicits._

  test("incremental ingest: watermark filter, dedupe, bookmark advance order") {
    val dir = graft.core.Scratch.dir("graft-ingest")
    val store = new FsBookmarkStore(s"$dir/bookmarks")
    val out = s"$dir/landing"

    val batch1 = Seq(
      (1L, Timestamp.valueOf("2024-01-01 10:00:00"), "a"),
      (2L, Timestamp.valueOf("2024-01-01 11:00:00"), "b"),
      (2L, Timestamp.valueOf("2024-01-01 12:00:00"), "b2") // newer version of key 2
    ).toDF("id", "updated_at", "payload")

    val r1 = IncrementalIngest.ingest(batch1, "t", "updated_at", Seq("id"), store, out)
    assert(r1.rowsWritten == 2, "dedupe keeps latest row per key")
    assert(r1.previousWatermark.isEmpty && r1.newWatermark.isDefined)
    val landed1 = spark.read.parquet(out)
    assert(landed1.count() == 2)
    assert(landed1.filter($"id" === 2).select($"payload").head().getString(0) == "b2")

    // batch 2 replays old rows + one new — only the new row passes the watermark
    val batch2 = batch1.union(Seq(
      (3L, Timestamp.valueOf("2024-01-02 09:00:00"), "c")
    ).toDF("id", "updated_at", "payload"))
    val r2 = IncrementalIngest.ingest(batch2, "t", "updated_at", Seq("id"), store, out)
    assert(r2.rowsWritten == 1)
    assert(r2.newWatermark.get > r1.newWatermark.get)
    assert(spark.read.parquet(out).count() == 3)

    // empty increment: nothing written, bookmark unchanged
    val r3 = IncrementalIngest.ingest(batch2, "t", "updated_at", Seq("id"), store, out)
    assert(r3.rowsWritten == 0 && r3.newWatermark == r2.newWatermark)
  }

  test("partition-level upsert rewrites only touched partitions, keeps latest rows") {
    val dir = graft.core.Scratch.dir("graft-upsert")
    val path = s"$dir/table"
    val day1 = Seq((1L, "2024-01-01", 100L, "v1"), (2L, "2024-01-01", 100L, "v1"),
      (3L, "2024-01-02", 100L, "v1"))
      .toDF("id", "day", "wm", "payload")
    IncrementalIngest.upsertPartitioned(spark, day1, path, "day", Seq("id"), "wm")
    assert(spark.read.parquet(path).count() == 3)

    // update id=2 (same partition, newer wm) + add id=4 in a NEW partition;
    // partition 2024-01-02 must remain untouched on disk
    val before0102 = Files.getLastModifiedTime(
      java.nio.file.Paths.get(s"$path/day=2024-01-02")).toMillis
    val day2 = Seq((2L, "2024-01-01", 200L, "v2"), (4L, "2024-01-03", 200L, "v2"))
      .toDF("id", "day", "wm", "payload")
    IncrementalIngest.upsertPartitioned(spark, day2, path, "day", Seq("id"), "wm")

    val result = spark.read.parquet(path)
    assert(result.count() == 4)
    val byId = result.collect().map(r => r.getAs[Long]("id") -> r.getAs[String]("payload")).toMap
    assert(byId(2L) == "v2", "newer watermark wins")
    assert(byId(1L) == "v1" && byId(3L) == "v1" && byId(4L) == "v2")
    val after0102 = Files.getLastModifiedTime(
      java.nio.file.Paths.get(s"$path/day=2024-01-02")).toMillis
    assert(after0102 == before0102, "untouched partition must not be rewritten")
  }

  test("rearrangeColumnsTyped adds typed nulls, reorders, casts") {
    val df = Seq((1, "x")).toDF("b", "a")
    val out = SchemaOps.rearrangeColumnsTyped(df,
      Seq("a" -> "string", "b" -> "bigint", "c" -> "double"))
    assert(out.columns.toSeq == Seq("a", "b", "c"))
    assert(out.schema("b").dataType.typeName == "long")
    assert(out.schema("c").dataType.typeName == "double")
    assert(out.head().isNullAt(2))
  }

  test("normalizeStringValues lowercases/trims only string columns") {
    val df = Seq((" MiXeD ", 7)).toDF("s", "n")
    val r = SchemaOps.normalizeStringValues(df).head()
    assert(r.getString(0) == "mixed" && r.getInt(1) == 7)
  }

  test("normalizeColumnNames + assertColumns") {
    val df = Seq((1, 2)).toDF(" Foo ", "BAR")
    val out = SchemaOps.normalizeColumnNames(df)
    assert(out.columns.toSeq == Seq("foo", "bar"))
    SchemaOps.assertColumns(out, Seq("foo"))
    intercept[IllegalArgumentException] {
      SchemaOps.assertColumns(out, Seq("missing_col"))
    }
  }

  test("multimodal plumbing: deterministic meta struct, payload-agnostic") {
    val docs = spark.read.parquet(s"$sf/documents.parquet").limit(50)
    val payloads = Multimodal.documentPayloads(docs)
    val withMeta = Multimodal.withMediaMeta(payloads, "payload", batchSize = 7)
    assert(withMeta.schema.fieldNames.contains("meta"))
    val rows = withMeta.select($"doc_id", $"meta.byte_len", $"meta.format").collect()
    assert(rows.length == 50)
    assert(rows.forall(_.getLong(1) > 0))
    // deterministic across runs
    val again = Multimodal.withMediaMeta(payloads, "payload", batchSize = 13)
      .select($"doc_id", $"meta.byte_len", $"meta.format").collect()
    assert(rows.map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSet ==
      again.map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSet)
    // the REAL ImageIO-backed decoder: a generated PNG and JPEG decode to
    // their true format and dimensions; garbage decodes poison-safe
    def imageBytes(fmt: String, w: Int, h: Int, rgb: Int): Array[Byte] = {
      val img = new java.awt.image.BufferedImage(w, h,
        java.awt.image.BufferedImage.TYPE_INT_RGB)
      for (x <- 0 until w; y <- 0 until h) img.setRGB(x, y, rgb)
      val out = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, fmt, out)
      out.toByteArray
    }
    val metas = Multimodal.ImageIoDecoder.decodeBatch(Seq(
      imageBytes("png", 32, 16, 0xffffff),
      imageBytes("jpg", 8, 8, 0x000000),
      Array[Byte](1, 2, 3)))
    assert(metas(0).format.contains("png") && metas(0).width == 32 && metas(0).height == 16)
    assert(metas(1).format.toLowerCase.contains("jpeg") && metas(1).width == 8)
    assert(metas(2).format == "unknown" && metas(2).width == -1)

    // the REAL pooling extractor: white image ≈ 1.0 luminance everywhere,
    // black ≈ 0.0 — a codec-backed deterministic embedding
    val ext = new Multimodal.ImagePoolingExtractor(grid = 2)
    val embs = ext.extractBatch(Seq(
      imageBytes("png", 16, 16, 0xffffff), imageBytes("png", 16, 16, 0x000000)))
    assert(embs(0).forall(v => v > 0.95f) && embs(1).forall(v => v < 0.05f))
  }

  test("multimodal audio: generated WAV/AU round-trip through the REAL " +
    "AudioSystem decoder; garbage decodes poison-safe") {
    import javax.sound.sampled.{AudioFileFormat, AudioFormat, AudioInputStream, AudioSystem}
    // mirror of the ImageIO round-trip: synthesize real audio containers
    // with the JDK encoder, decode them back with AudioSystemDecoder
    def audioBytes(fileType: AudioFileFormat.Type, sampleRate: Float,
        channels: Int, nFrames: Int): Array[Byte] = {
      val fmt = new AudioFormat(sampleRate, 16, channels, true, false)
      val pcm = new Array[Byte](nFrames * fmt.getFrameSize)
      val in = new AudioInputStream(new java.io.ByteArrayInputStream(pcm), fmt, nFrames)
      val out = new java.io.ByteArrayOutputStream()
      AudioSystem.write(in, fileType, out)
      out.toByteArray
    }
    val wav = audioBytes(AudioFileFormat.Type.WAVE, 44100f, 2, 1000)
    val au = audioBytes(AudioFileFormat.Type.AU, 8000f, 1, 250)
    val metas = Multimodal.AudioSystemDecoder.decodeBatch(Seq(
      wav, au, Array[Byte](9, 9, 9), null))
    assert(metas(0).format == "wav" && metas(0).width == 44100 &&
      metas(0).height == 2 && metas(0).n_frames == 1000 &&
      metas(0).byte_len == wav.length.toLong)
    assert(metas(1).format == "au" && metas(1).width == 8000 &&
      metas(1).height == 1 && metas(1).n_frames == 250)
    assert(metas(2).format == "unknown" && metas(2).width == -1)
    assert(metas(3).format == "unknown" && metas(3).byte_len == 0L)

    // and through the Spark-side plumbing: a binary-payload DataFrame
    // decoded partition-locally, header metadata queryable as a struct
    val df = spark.createDataFrame(Seq(
      (1L, wav), (2L, au), (3L, Array[Byte](1, 2, 3)))).toDF("id", "payload")
    val withMeta = Multimodal.withMediaMeta(df, "payload",
      decoder = Multimodal.AudioSystemDecoder, batchSize = 2)
    val rows = withMeta.select($"id", $"meta.format", $"meta.width", $"meta.n_frames")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getInt(2), r.getInt(3))).toSet
    assert(rows == Set((1L, "wav", 44100, 1000), (2L, "au", 8000, 250),
      (3L, "unknown", -1, 0)))
  }

  test("multimodal: feature-extract, resize, frame-sample plumbing") {
    val docs = spark.read.parquet(s"$sf/documents.parquet").limit(20)
    val payloads = Multimodal.documentPayloads(docs)

    // embedding bridge → feeds straight into the Similarity operators
    val emb = Multimodal.withEmbedding(payloads, "payload")
    assert(emb.schema("embedding").dataType.typeName == "array")
    val vecs = emb.select($"doc_id".as("id"), $"embedding".as("vec"))
    val knn = Similarity.bruteForceTopK(vecs.limit(2), vecs, k = 3)
    assert(knn.count() == 6, "2 queries x top-3 neighbors")
    // deterministic: same payload → same embedding
    val e1 = emb.select($"doc_id", $"embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1)).toMap
    val e2 = Multimodal.withEmbedding(payloads, "payload", batchSize = 3)
      .select($"doc_id", $"embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1)).toMap
    assert(e1 == e2)

    val rs = Multimodal.resized(payloads, "payload", targetBytes = 32)
    assert(rs.select(octet_length($"payload")).as[Int].collect().forall(_ == 32))

    val fr = Multimodal.withFrameSamples(payloads, "payload",
      frameBytes = 16, stride = 2, maxFrames = 4)
    val sizes = fr.select(size($"frames")).as[Int].collect()
    assert(sizes.forall(n => n >= 1 && n <= 4))
    val exploded = fr.select($"doc_id", explode($"frames").as("frame"))
    assert(exploded.count() == sizes.map(_.toLong).sum)
  }
}
