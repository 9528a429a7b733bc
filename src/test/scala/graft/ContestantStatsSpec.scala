package graft

import graft.domain.ContestantStats
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

/** `pullAggContestantStats` against the 5-way-join program it replaced,
  * and the plan shape the rewrite exists for: each input read once. */
class ContestantStatsSpec extends SparkSpec with AdaptiveSparkPlanHelper {
  import spark.implicits._

  /** The reference's query as first transcribed: `eps` joined to `cs`,
    * `c`, the votes and immunity aggregates and a separately ranked
    * `cs ⋈ perContestant`, then grouped. Kept as the reference. */
  private def fiveWayJoin(eps: DataFrame, contestantSeason: DataFrame,
                          contestant: DataFrame, vote: DataFrame,
                          immunityChallenge: DataFrame): DataFrame = {
    val perContestant = eps.groupBy(col("contestant_id"))
      .agg(
        sum(col("number_of_days_spent_in_episode")).as("ndays"),
        coalesce(sum(col("number_of_jury_votes")), lit(-1.0)).as("njury"))
    val ranked = contestantSeason.as("cs")
      .join(perContestant.as("eps"),
        col("cs.contestant_season_id") === col("eps.contestant_id"), "left")
      .select(col("cs.contestant_season_id"), col("cs.season_id"),
        col("njury"), col("ndays"))
      .withColumn("placement",
        row_number().over(Window.partitionBy(col("season_id"))
          .orderBy(col("njury").desc_nulls_last, col("ndays").desc_nulls_last,
            col("contestant_season_id"))).cast("long"))
      .select(col("contestant_season_id"), col("placement"))
    val votesAgg = vote.groupBy(col("voted_for_id"))
      .agg(
        count(lit(1)).as("votes_against"),
        (sum(when(col("voted_for_id") === col("contestant_id"), 1).otherwise(0)) > 0)
          .cast("int").as("medevac_quit"))
    val icAgg = immunityChallenge.filter(col("team") === 1)
      .groupBy(col("contestant_id"))
      .agg(sum(col("win_pct")).as("individual_wins"))
    eps.as("eps")
      .join(contestantSeason.as("cs"),
        col("cs.contestant_season_id") === col("eps.contestant_id"), "left")
      .join(contestant.as("c"),
        col("cs.contestant_id") === col("c.contestant_id"), "left")
      .join(votesAgg.as("v"), col("eps.contestant_id") === col("v.voted_for_id"), "left")
      .join(icAgg.as("ic"), col("ic.contestant_id") === col("eps.contestant_id"), "left")
      .join(ranked.as("r"),
        col("r.contestant_season_id") === col("eps.contestant_id"), "left")
      .groupBy(col("cs.contestant_season_id"), col("c.first_name"),
        col("c.last_name"), col("cs.season_id"))
      .agg(
        sum(col("eps.number_of_days_spent_in_episode")).as("days_lasted"),
        max(col("v.medevac_quit")).as("quit"),
        max(col("v.medevac_quit")).as("med_evac"),
        max(col("v.votes_against")).as("votes_against"),
        max(col("ic.individual_wins")).as("individual_wins"),
        max(col("r.placement")).as("placement"))
  }

  private def sample[A](g: Gen[A], seed: Long): A =
    g.pureApply(Gen.Parameters.default, Seed(seed))
  private def orNull[A](g: Gen[A]): Gen[Option[A]] =
    Gen.frequency(1 -> Gen.const(None), 5 -> g.map(Some(_)))

  /** Five generated inputs, unique on the `cs`/`c` natural keys. Ids are
    * small, so: eps ids with no `cs` row (and null ids), `cs` rows with no
    * eps, null seasons holding matched rows, (njury, ndays) ties, self-votes,
    * and keys with votes but no team-1 IC rows and the reverse. Measures
    * are integer or quarter valued, so every double sum is exact. */
  private def inputs(seed: Long): Seq[DataFrame] = {
    val csRows = sample(Gen.listOfN(12, for {
      cid <- orNull(Gen.choose(1L, 10L))
      season <- Gen.frequency(1 -> Gen.const(None), 3 -> Gen.choose(1L, 3L).map(Some(_)))
    } yield (cid, season)), seed).zipWithIndex.collect {
      case ((cid, season), i) if i % 5 != 4 => (i + 1L, cid, season)
    }
    val cRows = sample(Gen.listOfN(10, for {
      first <- orNull(Gen.oneOf("Ann", "Bo", "Cy"))
      last <- orNull(Gen.oneOf("X", "Y"))
    } yield (first, last)), seed + 1).zipWithIndex.collect {
      case ((f, l), i) if i % 4 != 3 => (i + 1L, f, l)
    }
    val epsRows = sample(Gen.listOfN(40, for {
      cid <- orNull(Gen.choose(1L, 16L)) // 13..16: no cs row
      days <- orNull(Gen.choose(0, 3).map(_.toDouble))
      jury <- orNull(Gen.oneOf(0.0, 1.0))
    } yield (cid, days, jury)), seed + 2)
    val voteRows = sample(Gen.listOfN(30, for {
      voter <- orNull(Gen.choose(1L, 16L))
      target <- Gen.frequency(3 -> Gen.const(voter), 10 -> orNull(Gen.choose(1L, 16L)))
    } yield (voter, target)), seed + 3)
    val icRows = sample(Gen.listOfN(30, for {
      cid <- orNull(Gen.choose(1L, 16L))
      team <- orNull(Gen.oneOf(0.0, 1.0))
      win <- orNull(Gen.choose(0, 4).map(_ * 0.25))
    } yield (cid, team, win)), seed + 4)
    // extra columns named like output or other inputs' columns, as in the
    // real schemas (contestant_season carries votes_against and placement)
    Seq(
      epsRows.toDF("contestant_id", "number_of_days_spent_in_episode", "number_of_jury_votes")
        .withColumn("season_id", lit(1L)),
      csRows.toDF("contestant_season_id", "contestant_id", "season_id")
        .withColumn("votes_against", lit(-7.0)).withColumn("placement", lit(99.0)),
      cRows.toDF("contestant_id", "first_name", "last_name").withColumn("season_id", lit(5L)),
      voteRows.toDF("contestant_id", "voted_for_id").withColumn("season_id", lit(1L)),
      icRows.toDF("contestant_id", "team", "win_pct").withColumn("season_id", lit(1L)))
  }

  private def run(f: Seq[DataFrame] => DataFrame, in: Seq[DataFrame]) = {
    val df = f(in)
    (df.schema.map(s => (s.name, s.dataType)), df.collect().map(_.toString).sorted.toSeq)
  }

  test("pullAggContestantStats equals the 5-way-join program on generated inputs") {
    val rewrite = (in: Seq[DataFrame]) =>
      ContestantStats.pullAggContestantStats(in(0), in(1), in(2), in(3), in(4))
    val reference = (in: Seq[DataFrame]) => fiveWayJoin(in(0), in(1), in(2), in(3), in(4))
    for (seed <- 1L to 6L) {
      val in = inputs(seed * 10)
      val empty = (i: Int) => in.updated(i, in(i).limit(0))
      val cases = Seq("generated" -> in, "empty eps" -> empty(0),
        "empty vote" -> empty(3), "empty ic" -> empty(4))
      for ((name, c) <- cases) {
        val want = run(reference, c)
        assert(run(rewrite, c) == want, s"seed=$seed $name")
        if (name == "generated") assert(want._2.size > 5, s"seed=$seed: too few rows")
      }
    }
  }

  test("pullAggContestantStats reads eps once through at most 3 shuffles") {
    val dir = java.nio.file.Files.createTempDirectory("graft_cstats").toString
    val names = Seq("eps", "cs", "c", "vote", "ic")
    inputs(7).zip(names).foreach { case (df, n) => df.write.parquet(s"$dir/$n") }
    val Seq(eps, cs, c, vote, ic) = names.map(n => spark.read.parquet(s"$dir/$n"))
    val df = ContestantStats.pullAggContestantStats(eps, cs, c, vote, ic)
    df.collect()
    val plan = df.queryExecution.executedPlan
    val shuffles = collect(plan) { case e: ShuffleExchangeExec => e }.size
    val epsScans = collect(plan) { case s: FileSourceScanExec => s.relation.location.rootPaths }
      .count(_.exists(_.getName == "eps"))
    assert(shuffles <= 3 && epsScans == 1, s"$shuffles shuffles, $epsScans eps scans:\n$plan")
  }

  test("q29 runs at most 7 jobs") {
    val q29 = SparkEntry.entry(spark) // the flagship: q29 at sf0.001
    val (jobs, _) = jobsDuring(q29.collect())
    assert(jobs <= 7, s"q29 ran $jobs jobs:\n${q29.queryExecution.executedPlan}")
  }

  test("q38 scans events once and parses each record once") {
    val sf = java.nio.file.Files.createTempDirectory("graft_q38").toString
    spark.range(50).select(col("id").as("event_id"),
      format_string("{\"k\": %d}", col("id")).as("props"), current_timestamp().as("ts"))
      .write.parquet(s"$sf/events.parquet")
    val q38 = SparkEntry.queries("q38_json_ingest")(spark, sf)
    q38.collect()
    val plan = q38.queryExecution.executedPlan
    val scans = collect(plan) { case s: FileSourceScanExec => s }
    assert(scans.size == 1, s"q38 scans:\n$plan")
    val parses = collect(plan) { case n => "from_json".r.findAllIn(n.simpleString(1000)).size }
    assert(parses.sum == 1, s"q38 parses:\n$plan")
  }
}
