package graft

import graft.ops.Multimodal
import graft.streaming.EventStream

class MultimodalStreamSpec extends SparkTestBase {

  import spark.implicits._

  test("media table: binary payload round-trips the source bytes") {
    val row = Multimodal.mediaTable(spark, sf)
      .filter($"doc_id" === 0).first()
    val media = row.getAs[Array[Byte]]("media")
    val text = spark.read.parquet(s"$sf/documents.parquet")
      .filter($"doc_id" === 0).first().getAs[String]("text")
    assert(new String(media, "UTF-8") === text)
  }

  test("decode stub: features deterministic and sized") {
    val f = Multimodal.features(spark, sf).collect()
    assert(f.length === 500)
    assert(f.forall { r =>
      val w = r.getAs[Long]("width"); w >= 32 && w < 256
    })
    // video rows get multi-frame counts, image/audio exactly 1
    val byType = f.groupBy(_.getAs[String]("media_type"))
    assert(byType("image").forall(_.getAs[Long]("n_frames") === 1L))
    assert(byType("video").exists(_.getAs[Long]("n_frames") > 1L))
  }

  test("streaming tumbling window equals the batch computation") {
    val streamed = EventStream.tumblingCounts(spark, sf)
      .select($"bucket", $"event_type", $"n_events")
      .as[(Long, String, Long)].collect().toSet
    val batch = graft.ops.Events.tumblingWindow(spark, sf)
      .select($"bucket", $"event_type", $"n_events")
      .as[(Long, String, Long)].collect().toSet
    assert(streamed === batch)
  }

  test("a stream drain drops its memory-sink view and the frame keeps its rows") {
    def sinkViews = spark.catalog.listTables().collect()
      .filter(t => t.isTemporary && t.name.startsWith("graft_")).map(_.name).toSeq
    val drained = graft.SparkEntry.queries("stream_tumbling_window")(spark, sf)
    assert(sinkViews === Seq.empty)
    val rows = drained.select($"bucket", $"event_type", $"n_events")
      .as[(Long, String, Long)].collect().toSet
    val batch = graft.ops.Events.tumblingWindow(spark, sf)
      .select($"bucket", $"event_type", $"n_events")
      .as[(Long, String, Long)].collect().toSet
    assert(rows.nonEmpty)
    assert(rows === batch)
  }

  test("streaming KLL sketch state: quantile ranks inside the bound") {
    val r = EventStream.kllSketchStream(spark, sf)
      .select($"event_type", $"approx_p50", $"approx_p90")
      .as[(String, Double, Double)].collect()
    assert(r.nonEmpty)
    val byType = spark.read.parquet(s"$sf/events.parquet")
      .select($"event_type", $"value").as[(String, Double)].collect()
      .groupBy(_._1).map { case (t, vs) => t -> vs.map(_._2).sorted }
    r.foreach { case (t, p50, p90) =>
      val sorted = byType(t)
      for ((est, target) <- Seq(p50 -> 0.5, p90 -> 0.9)) {
        val rk = sorted.count(_ <= est).toDouble / sorted.length
        assert(math.abs(rk - target) <= 0.04,
          s"$t: streaming quantile($target)=$est has exact rank $rk")
      }
    }
  }

  test("streaming stateful sessionization equals the batch window form") {
    val streamed = EventStream.sessionCounts(spark, sf)
      .select($"user_id", $"n_sessions").as[(Long, Long)].collect().toSet
    val batch = graft.ops.Events.sessionize(spark, sf)
      .select($"user_id", $"n_sessions").as[(Long, Long)].collect().toSet
    assert(streamed === batch)
  }
}
