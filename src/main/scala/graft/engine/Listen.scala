package graft.engine

import java.sql.Timestamp
import org.apache.spark.sql.types._

/** Core fact-table schema of the listens engine.
  *
  * Mirrors the reference's `listens_new_schema`
  * (listenbrainz_spark/schema.py:36-48): one row per play event —
  * *user U played recording R at time T* — with denormalized artist/release
  * attribution and the MusicBrainz mapping columns nullable (an unmapped
  * listen has `recording_mbid = null` and must be RETAINED by user stats).
  */
final case class Listen(
    listened_at: Timestamp,
    created: Timestamp,
    user_id: Int,
    recording_msid: String,
    artist_name: String,
    artist_credit_id: Option[Long],
    release_name: Option[String],
    release_mbid: Option[String],
    recording_name: String,
    recording_mbid: Option[String],
    artist_credit_mbids: Option[Seq[String]])

object Listen {
  /** Explicit StructType for schema-on-read parquet/json ingestion. */
  val schema: StructType = StructType(Seq(
    StructField("listened_at", TimestampType, nullable = false),
    StructField("created", TimestampType, nullable = false),
    StructField("user_id", IntegerType, nullable = false),
    StructField("recording_msid", StringType, nullable = false),
    StructField("artist_name", StringType, nullable = false),
    StructField("artist_credit_id", LongType, nullable = true),
    StructField("release_name", StringType, nullable = true),
    StructField("release_mbid", StringType, nullable = true),
    StructField("recording_name", StringType, nullable = false),
    StructField("recording_mbid", StringType, nullable = true),
    StructField("artist_credit_mbids", ArrayType(StringType), nullable = true)))

  /** Deleted-listen retraction key: the 4 columns identifying a listen for
    * anti-join removal (reference listens/data.py:73-75). */
  val deletionKey: Seq[String] =
    Seq("user_id", "listened_at", "recording_msid", "created")
}

/** Bookkeeping record for a cached partial aggregate
  * (reference `BOOKKEEPING_SCHEMA`, schema.py:17-21): the listen-time range
  * the partial covers, when it was computed, and the store files it was
  * computed from ([[ListenStore.partialInputs]]). */
final case class Bookkeeping(
    from_date: Timestamp, to_date: Timestamp, updated_at: Timestamp,
    inputs: Seq[String])

/** Record of a materialized user-bucketed projection
  * ([[ListenStore.materializeUserBucketed]]): the catalog table, its
  * location, bucket count and schema DDL, and the store files it was
  * built from, which [[ListenStore.userBucketed]] compares to decide
  * freshness. */
final case class BucketedProjection(
    table: String, path: String, buckets: Int, schema_ddl: String,
    inputs: Seq[String])
