package graft.playlists

import org.apache.spark.sql.{DataFrame, Column}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Playlist generation (reference troi/periodic_jams.py and the YIM
  * playlist family):
  *
  *   - [[periodicJams]] — each user's top entities over a recent window,
  *     minus anything they marked hated (feedback = -1, an anti join),
  *     shuffled by a seeded per-(user, entity) hash (the reference's ORDER
  *     BY RANDOM(), W10 — seeded here so the playlist is reproducible),
  *     capped per playlist.
  *   - [[topDiscoveries]] — entities first listened inside the target year
  *     with enough plays (the HAVING min(listened_at) pattern of
  *     top_discoveries.py:83-84).
  */
object Playlists {

  /** @param feedback (userCol, entityCol, score) with score == -1 for hated
    * @param seed keys the per-(user, entity) shuffle hash, so the playlist
    *   is a function of the rows alone — not of shuffle width, partition
    *   layout or row order, as a partition-seeded `rand` would be */
  def periodicJams(
      listens: DataFrame, feedback: DataFrame,
      userCol: String, entityCol: String,
      maxPerPlaylist: Int, seed: Long): DataFrame =
    periodicJamsDeterministic(listens, feedback, userCol, entityCol,
      maxPerPlaylist, // a 64-bit hash tie falls back to the entity
      struct(xxhash64(col(userCol), col(entityCol), lit(seed)), col(entityCol)))

  /** [[periodicJams]] with a CALLER-SUPPLIED shuffle ordering — an md5
    * key makes the whole playlist cross-engine reproducible (the oracled
    * q88 and q113 paths). */
  def periodicJamsDeterministic(
      listens: DataFrame, feedback: DataFrame,
      userCol: String, entityCol: String,
      maxPerPlaylist: Int, shuffleKey: Column): DataFrame = {
    val hated = feedback.filter(col("score") === -1)
      .select(col(userCol), col(entityCol))
    listens
      .join(hated, Seq(userCol, entityCol), "left_anti")
      .groupBy(col(userCol), col(entityCol))
      .agg(count(lit(1)).as("listen_count"))
      .withColumn("position", row_number().over(
        Window.partitionBy(col(userCol)).orderBy(shuffleKey)))
      .filter(col("position") <= maxPerPlaylist)
  }

  /** Entities whose FIRST listen falls inside [yearStart, yearEnd) and
    * that accumulated at least minPlays overall. */
  def topDiscoveries(
      listens: DataFrame, userCol: String, entityCol: String, tsCol: String,
      yearStart: String, yearEnd: String, minPlays: Long, top: Int): DataFrame = {
    val w = Window.partitionBy(col(userCol))
      .orderBy(col("play_count").desc, col(entityCol))
    listens
      .groupBy(col(userCol), col(entityCol))
      .agg(min(col(tsCol)).as("first_listen"),
        count(lit(1)).as("play_count"))
      .filter(col("first_listen") >= lit(yearStart).cast("timestamp") &&
        col("first_listen") < lit(yearEnd).cast("timestamp") &&
        col("play_count") >= minPlays)
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= top)
  }
}
