package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Documents wrapped as opaque `binary` media payloads with typed
  * metadata, the input of q43's byte-level checks (length, md5, head
  * bytes), which the DuckDB oracle verifies.
  */
object Multimodal {

  final case class MediaRecord(
      media_id: Long,
      kind: String, // image | audio | video
      payload: Array[Byte],
      format: String,
      declared_width: Int,
      declared_height: Int)

  /** Wrap documents as media records (payload = utf-8 bytes of the
    * text, kind "image", no declared dimensions). */
  def mediaFromDocuments(documents: DataFrame)(
      implicit spark: SparkSession): Dataset[MediaRecord] = {
    import spark.implicits._
    documents.select(
        col("doc_id").as("media_id"),
        lit("image").as("kind"),
        encode(col("text"), "UTF-8").as("payload"),
        lit("raw/utf8").as("format"),
        lit(0).as("declared_width"),
        lit(0).as("declared_height"))
      .as[MediaRecord]
  }
}
