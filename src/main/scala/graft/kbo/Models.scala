package graft.kbo

import org.apache.spark.sql.{Dataset, SparkSession}
import java.sql.{Date, Timestamp}
import graft.core.Parquet

/** Typed `Dataset[T]` surface for the core tables (SURVEY.md §1.2):
  * compile-time safety where row shape is stable; the 74/75-col wide
  * records stay `DataFrame` (beyond useful case-class ergonomics).
  * Field names/types mirror [[Schemas]] exactly — `SchemasSpec` asserts
  * the encoder schemas line up with the declared StructTypes.
  */
object Models {

  case class GameRecord(id: Long, game_date: Timestamp, away_team: String,
                        away_score: Int, home_team: String, home_score: Int,
                        stadium: String)

  case class ParkFactor(stadium: String, park_factor: Double)

  case class HitterGame(hitter_id: Int, game_date: Date,
                        opponent_team: String, avg: Double, pa: Int,
                        ab: Int, runs: Int, hits: Int, doubles: Int,
                        triples: Int, hr: Int, rbi: Int, sb: Int, cs: Int,
                        bb: Int, hbp: Int, so: Int, gdp: Int,
                        updated_at: Timestamp)

  case class HitterMetrics(hitter_id: Int, wOBA: Double, wRC: Double,
                           wRC_plus: Double, OPS_plus: Double,
                           k_rate: Double, bb_rate: Double, babip: Double)

  case class PitcherMetrics(pitcher_id: Int, fip: Double, k_rate: Double,
                            bb_rate: Double, hr_rate: Double)

  case class TodayLineup(id: Long, game_date: Timestamp, player: String,
                         team: String, opponent: String, stadium: String,
                         position: Int)

  case class Document(doc_id: Long, text: String, lang: String,
                      source: String, n_chars: Long)

  case class Embedding(vec_id: Long, embedding: Array[Float], label: Int)

  /** Typed loaders over the lake layout. */
  def gameRecords(s: SparkSession, dir: String): Dataset[GameRecord] = {
    import s.implicits._
    s.read.schema(Schemas.gameRecords)
      .parquet(s"$dir/game_records.parquet").as[GameRecord]
  }

  def documents(s: SparkSession, dir: String): Dataset[Document] = {
    import s.implicits._
    Parquet.read(s, s"$dir/documents.parquet").as[Document]
  }

  def embeddings(s: SparkSession, dir: String): Dataset[Embedding] = {
    import s.implicits._
    Parquet.read(s, s"$dir/embeddings.parquet").as[Embedding]
  }
}
