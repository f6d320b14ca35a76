package graft

import org.apache.spark.sql.functions.lit

import graft.util.LocalSession

/** Minimal consumer demo of the typed API: enrichment → Dataset[VideoStats]
  * → typed top-k. Run: `sbt "runMain graft.Demo"`. */
object Demo {
  def main(args: Array[String]): Unit = {
    val spark = LocalSession.builder(4).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    import spark.implicits._

    val raw = Seq(
      ("v1", "100", "50", "1", "0"),
      ("v2", "100", "1", "1", "0"),
      ("v3", "0", "9", "1", "0"))
      .map { case (id, v, l, c, f) =>
        (id, v, l, c, f, Option.empty[Seq[String]], Option.empty[String],
          "2024-01-01T00:00:00Z", "PT1S")
      }
      .toDF("videoId", "views", "likes", "comments", "favourites", "tags",
        "description", "publishedAt", "duration")
      .withColumn("channel", lit("c"))
      .withColumn("video_title", lit("t"))

    val typed = etl.Transforms.enrichVideoStats(raw)
      .as[model.Entities.VideoStats]
    val top = model.Entities.topEngagement(typed, 1).collect()
    println("TOP=" + top.map(v => s"${v.videoId}:${v.like_view_ratio.orNull}")
      .mkString(","))
    spark.stop()
  }
}
