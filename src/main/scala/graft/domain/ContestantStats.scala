package graft.domain

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The reference's analytical heart — `pull_agg_contestant_stats`
  * (helpers/db_funcs.py:4-45) — as a Spark DataFrame program.
  *
  * Semantics preserved exactly:
  *  - ranked CTE: per-season placement by (njury DESC, ndays DESC), where
  *    njury = COALESCE(SUM(number_of_jury_votes), -1) per contestant_season
  *  - votes subquery: COUNT(*) votes_against + self-vote → medevac_quit flag
  *  - immunity subquery: SUM(win_pct) over team-phase (team = 1) rows
  *  - 5-way LEFT join from episode_performance_stats, then
  *    GROUP BY (contestant_season_id, first_name, last_name, season_id)
  *    with SUM(days)/MAX(flag) aggregates
  *
  * (The reference joins `eps.contestant_id` to `cs.contestant_season_id` —
  * in its model the fact table's contestant_id IS the contestant_season id;
  * kept as-is for parity.)
  *
  * Precondition: `contestant_season` is unique on `contestant_season_id`
  * and `contestant` on `contestant_id` (their `Schemas.keys`, which
  * `Runner.upsert` maintains). Every join then keys on `eps.contestant_id`
  * with at most one match, so each input is read once: `eps` aggregates
  * per contestant (`days_lasted` sums those sums; `max` ignores
  * multiplicity); votes and team-1 immunity rows share one keyed
  * aggregate whose sums stay null for a key with none of their rows; and
  * placement ranks the aggregate ⋈ `cs` rows in place. An unmatched `cs`
  * row has a null njury and sorts last, so leaving it out moves no
  * placement; an aggregate row with no `cs` match sorts after the matched
  * rows of the null season and gets none.
  * Plan: two map-side-combined aggregate shuffles on the contestant id, one
  * window shuffle on season_id that the GROUP BY reuses, and broadcasts of
  * the small sides. Deterministic rank tiebreak added on the id (the
  * reference's ROW_NUMBER is nondeterministic under ties — declared engine
  * policy, SURVEY §7.4).
  */
object ContestantStats {

  def pullAggContestantStats(
      episodePerformanceStats: DataFrame,
      contestantSeason: DataFrame,
      contestant: DataFrame,
      vote: DataFrame,
      immunityChallenge: DataFrame): DataFrame = {

    val perContestant = episodePerformanceStats.groupBy(col("contestant_id"))
      .agg(
        sum(col("number_of_days_spent_in_episode")).as("ndays"),
        coalesce(sum(col("number_of_jury_votes")), lit(-1.0)).as("njury"))

    val votesAndWins = vote.select(col("voted_for_id").as("key"), lit(1L).as("vote"),
        when(col("voted_for_id") === col("contestant_id"), 1).otherwise(0).as("self"),
        lit(null).as("win_pct"))
      .unionByName(immunityChallenge.filter(col("team") === 1).select(
        col("contestant_id").as("key"), lit(null).as("vote"), lit(null).as("self"),
        col("win_pct")))
      .groupBy(col("key"))
      .agg(
        sum(col("vote")).as("votes_against"),
        (sum(col("self")) > 0).cast("int").as("medevac_quit"),
        sum(col("win_pct")).as("individual_wins"))

    val cs = contestantSeason.select("contestant_season_id", "contestant_id", "season_id")
    val matched = col("cs.contestant_season_id").isNotNull
    perContestant.as("eps")
      .join(votesAndWins.as("v"), col("eps.contestant_id") === col("v.key"), "left")
      .join(cs.as("cs"), col("cs.contestant_season_id") === col("eps.contestant_id"), "left")
      .withColumn("placement", when(matched,
        row_number().over(Window.partitionBy(col("cs.season_id"))
          .orderBy(matched.desc, col("njury").desc_nulls_last,
            col("ndays").desc_nulls_last, col("cs.contestant_season_id"))).cast("long")))
      .join(contestant.select("contestant_id", "first_name", "last_name").as("c"),
        col("cs.contestant_id") === col("c.contestant_id"), "left")
      .groupBy(col("cs.contestant_season_id"), col("c.first_name"),
        col("c.last_name"), col("cs.season_id"))
      .agg(
        sum(col("ndays")).as("days_lasted"),
        max(col("medevac_quit")).as("quit"),
        max(col("medevac_quit")).as("med_evac"),
        max(col("votes_against")).as("votes_against"),
        max(col("individual_wins")).as("individual_wins"),
        max(col("placement")).as("placement"))
  }
}
