package graft.multimodal

import graft.SparkSpec
import org.apache.spark.sql.functions._

class MediaPipelineSpec extends SparkSpec {

  // utf-8 text bytes stand in for an unrecognized media payload
  private lazy val media = {
    import spark.implicits._
    Seq((1L, "hello media world"), (2L, "x"), (3L, "longer payload body"))
      .toDF("doc_id", "text")
      .select(col("doc_id"), col("text").cast("binary").as("payload"))
  }

  test("decode runs per-partition and yields deterministic features") {
    val features = MediaPipeline.decode(spark, media)
    val rows = features.collect().map(f => f.doc_id -> f).toMap
    assert(rows(1L).media_bytes == 17)
    assert(rows.values.forall(f => f.width >= 16 && f.height >= 16))
    assert(rows.values.forall(_.feature.length == 8))
    // determinism across runs
    val again = MediaPipeline.decode(spark, media).collect()
      .map(f => f.doc_id -> f).toMap
    assert(rows(3L).feature.toSeq == again(3L).feature.toSeq)
    assert(rows(3L).n_frames == again(3L).n_frames)
  }

  test("decode uses real header dims for media payloads, stub otherwise") {
    import spark.implicits._
    val mixed = Seq(
      MediaPipeline.MediaRow(10L, MediaCodec.pngBytes(320, 200, Array[Byte](1, 2))),
      MediaPipeline.MediaRow(11L, MediaCodec.jpegBytes(640, 480, Array.emptyByteArray)),
      MediaPipeline.MediaRow(12L, "not media".getBytes("UTF-8"))).toDF()
    val rows = MediaPipeline.decode(spark, mixed)
      .collect().map(f => f.doc_id -> f).toMap
    assert(rows(10L).format == "png" && rows(10L).width == 320 &&
      rows(10L).height == 200 && rows(10L).media_bytes == 35)
    assert(rows(11L).format == "jpeg" && rows(11L).width == 640 &&
      rows(11L).height == 480)
    assert(rows(12L).format == "unknown") // stub fallback keeps working
    assert(rows.values.forall(_.feature.length == 8))
  }

  test("frame sampling emits every-k indices bounded by n_frames") {
    import spark.implicits._
    val nFrames = Map(1L -> 1, 2L -> 5, 3L -> 9)
    val gifs = nFrames.toSeq.map { case (id, n) =>
      MediaPipeline.MediaRow(id, ImageCodec.gifGray(4, 4, n, (f, i) => f + i))
    }.toDF()
    val sampled = MediaPipeline.frameStats(spark, gifs, everyK = 4)
      .collect().groupBy(_.doc_id).map { case (id, fs) =>
        id -> fs.map(_.frame_idx).sorted.toSeq }
    assert(sampled.keySet == nFrames.keySet)
    sampled.foreach { case (id, idx) =>
      assert(idx == (0 until nFrames(id) by 4), s"doc $id: $idx")
    }
  }
}
