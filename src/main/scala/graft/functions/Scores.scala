package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** The reference's scalar scoring / classification semantics as pure
  * `Column` expressions — UDF-free, codegen-friendly, unit-testable.
  * Each function cites the reference logic it reproduces (paths under
  * /root/reference/src/stacktrend/).
  */
object Scores {

  /** License category from license name substring matching
    * (notebooks/bronze_to_silver_transformation.py:713-720). */
  def licenseCategory(licenseName: Column): Column = {
    val l = lower(coalesce(licenseName, lit("")))
    when(l === "", "none")
      .when(l.contains("mit").or(l.contains("apache")).or(l.contains("bsd")), "permissive")
      .when(l.contains("gpl").or(l.contains("agpl")), "copyleft")
      .otherwise("other")
  }

  /** Tiered activity score from days since last push. Simplified tiers
    * *adapted from* (not identical to) utils/data_transformer.py:216-251;
    * see [[activityScoreRef]] for the reference-exact 50/30/20 composite. */
  def activityScore(daysSincePush: Column): Column =
    when(daysSincePush <= 30, 100)
      .when(daysSincePush <= 90, 70)
      .when(daysSincePush <= 365, 40)
      .otherwise(10)

  /** Reference-exact activity score (utils/data_transformer.py:216-251):
    * push recency worth 50 (≤7d:50, ≤30d:30, ≤90d:10), update recency
    * worth 30 (≤7d:30, ≤30d:20, ≤90d:5), open-issues/stars ratio worth
    * 20 (<0.1:20, <0.3:10); stars floored at 1; result rounded to 1dp
    * (always integral here, kept double for parity). */
  def activityScoreRef(daysSincePush: Column, daysSinceUpdate: Column,
      openIssues: Column, stars: Column): Column = {
    val pushPts = when(daysSincePush.isNull, 0.0)
      .when(daysSincePush <= 7, 50.0).when(daysSincePush <= 30, 30.0)
      .when(daysSincePush <= 90, 10.0).otherwise(0.0)
    val updPts = when(daysSinceUpdate.isNull, 0.0)
      .when(daysSinceUpdate <= 7, 30.0).when(daysSinceUpdate <= 30, 20.0)
      .when(daysSinceUpdate <= 90, 5.0).otherwise(0.0)
    val ratio = coalesce(openIssues.cast("double"), lit(0.0)) /
      greatest(stars.cast("double"), lit(1.0))
    val issuePts = when(ratio < 0.1, 20.0).when(ratio < 0.3, 10.0).otherwise(0.0)
    round(pushPts + updPts + issuePts, 1)
  }

  /** Momentum = stars per day of age, ×10 and clamped to [0,100] — a
    * bounded-score *adaptation* of the reference's raw stars/days_old;
    * see [[momentumScoreRef]] for the exact formula. */
  def momentumScore(stars: Column, ageDays: Column): Column =
    least(lit(100.0), stars.cast("double") / greatest(ageDays, lit(1)) * 10.0)

  /** Reference-exact momentum (utils/data_transformer.py:202-214):
    * stars / days_old rounded to 4dp, 0.0 when days_old <= 0 or the
    * creation date is unknown. No scale factor, no clamp. */
  def momentumScoreRef(stars: Column, ageDays: Column): Column =
    when(ageDays.isNull.or(ageDays <= 0), 0.0)
      .otherwise(round(stars.cast("double") / ageDays.cast("double"), 4))

  /** Additive quality scorecard in [0,100]
    * (bronze_to_silver_transformation.py:769-782 idiom: when(...,pts)
    * chains + greatest/least clamp). */
  def qualityScore(hasDescription: Column, nTopics: Column, stars: Column,
      daysSincePush: Column): Column =
    greatest(least(
      when(hasDescription, 25).otherwise(0)
        + when(nTopics >= 3, 25).when(nTopics >= 1, 15).otherwise(0)
        + when(stars >= 1000, 30).when(stars >= 100, 20).when(stars >= 10, 10).otherwise(0)
        + when(daysSincePush <= 30, 20).when(daysSincePush <= 180, 10).otherwise(0),
      lit(100)), lit(0))

  /** Health grade A–F on a 0-100 score scale — *adapted from* the
    * reference's 0-1 scale; see [[healthGradeRef]] for the exact
    * 0.8/0.6/0.4/0.2 thresholds. */
  def healthGrade(score: Column): Column =
    when(score >= 90, "A").when(score >= 75, "B").when(score >= 60, "C")
      .when(score >= 40, "D").otherwise("F")

  /** Reference-exact health grade on the 0-1 health_score scale
    * (personal_repos_silver_to_gold.py:204-210): ≥0.8 A, ≥0.6 B,
    * ≥0.4 C, ≥0.2 D, else F. */
  def healthGradeRef(score01: Column): Column =
    when(score01 >= 0.8, "A").when(score01 >= 0.6, "B")
      .when(score01 >= 0.4, "C").when(score01 >= 0.2, "D").otherwise("F")

  /** Reference-exact health score in [0,1]
    * (personal_repos_silver_to_gold.py:197-202):
    * quality*0.4 + velocity*0.3 + (is_active ? 0.3 : 0), capped at 1. */
  def healthScoreRef(quality01: Column, velocity: Column,
      isActive: Column): Column =
    least(lit(1.0),
      quality01 * 0.4 + coalesce(velocity, lit(0.0)) * 0.3 +
        when(isActive, 0.3).otherwise(0.0))

  /** Reference-exact activity status
    * (personal_repos_silver_to_gold.py:211-215): ≤7d active,
    * ≤30d stable, else dormant. */
  def activityStatus(daysSincePush: Column): Column =
    when(daysSincePush <= 7, "active")
      .when(daysSincePush <= 30, "stable").otherwise("dormant")

  /** Lifecycle stage from age and activity — *simplified adaptation*;
    * see [[lifecycleStageRef]] for the reference's star-velocity rules. */
  def lifecycleStage(ageDays: Column, activityScr: Column): Column =
    when(ageDays <= 365 && activityScr >= 70, "emerging")
      .when(activityScr >= 70, "growing")
      .when(activityScr >= 40, "mature")
      .otherwise("declining")

  /** Reference-exact adoption lifecycle
    * (silver_to_gold_analytics.py:199-213): velocity>1 & age<730d
    * emerging; velocity>0.5 & ≥5 repos growing; ≥10 repos & age>1095d
    * mature; velocity<0.1 declining; else stable. */
  def lifecycleStageRef(avgStarVelocity: Column, avgAgeDays: Column,
      totalRepos: Column): Column =
    when(avgStarVelocity > 1.0 && avgAgeDays < 730, "emerging")
      .when(avgStarVelocity > 0.5 && totalRepos >= 5, "growing")
      .when(totalRepos >= 10 && avgAgeDays > 1095, "mature")
      .when(avgStarVelocity < 0.1, "declining")
      .otherwise("stable")

  /** Popularity tier from stars — *coarse adaptation* (S/A/B/C/D); see
    * [[popularityTierRef]] for the reference's six named tiers. */
  def popularityTier(stars: Column): Column =
    when(stars >= 10000, "S").when(stars >= 1000, "A")
      .when(stars >= 100, "B").when(stars >= 10, "C").otherwise("D")

  /** Reference-exact popularity tier (utils/data_transformer.py:253-266):
    * ≥10000 viral, ≥5000 popular, ≥1000 notable, ≥100 emerging,
    * ≥10 developing, else new. */
  def popularityTierRef(stars: Column): Column =
    when(stars >= 10000, "viral").when(stars >= 5000, "popular")
      .when(stars >= 1000, "notable").when(stars >= 100, "emerging")
      .when(stars >= 10, "developing").otherwise("new")

  /** The reference's 23-entry topic→language substring lookup
    * (bronze_to_silver_transformation.py:412-420), in its exact
    * iteration order — order matters because duplicate appends inflate
    * the per-language share's denominator. */
  val programmingLanguages: Seq[(String, String)] = Seq(
    "python" -> "Python", "javascript" -> "JavaScript",
    "typescript" -> "TypeScript", "java" -> "Java", "go" -> "Go",
    "rust" -> "Rust", "cpp" -> "C++", "c++" -> "C++", "csharp" -> "C#",
    "c#" -> "C#", "php" -> "PHP", "ruby" -> "Ruby", "swift" -> "Swift",
    "kotlin" -> "Kotlin", "scala" -> "Scala", "r" -> "R",
    "julia" -> "Julia", "shell" -> "Shell", "bash" -> "Shell",
    "dockerfile" -> "Dockerfile", "yaml" -> "YAML", "json" -> "JSON",
    "sql" -> "SQL")

  /** U1 language-distribution map, reference-exact
    * (bronze_to_silver_transformation.py:403-445), rebuilt as pure
    * Column logic (constant struct-array dict + higher-order functions —
    * no UDF):
    *   - a valid primary language ('' / 'null' / 'none' excluded,
    *     case-insensitively) takes 70.0;
    *   - every (topic, dict-entry) substring match appends one share —
    *     duplicates *count* in the denominator ('spark' matches 'r', so
    *     does 'kernel'), exactly like the reference's list append;
    *   - matched languages (minus an exact-match primary) split the
    *     remaining 30.0 (or 100.0 with no primary) per *append*;
    *   - nothing at all → {Unknown: 100.0};
    *   - values normalized to sum 100 and rounded to 1 dp.
    * The total is computed as 70 + per·n (one multiply, not a fold) so
    * both engines build bit-identical doubles.
    */
  def langDistribution(primary: Column, topics: Column): Column = {
    // codegen'd dict scan — the HOF formulation
    // (flatten(transform(filter(dict, contains)))) is CodegenFallback
    // and was the silver pipeline's hot spot; see [[TopicLangMatches]]
    val topicLangs =
      TopicLangMatches.topicLangs(coalesce(topics, array().cast("array<string>")))
    val pValid = primary.isNotNull && trim(primary) =!= "" &&
      !lower(primary).isin("null", "none")
    val distinctLangs = array_distinct(topicLangs)
    val others =
      when(pValid, array_remove(distinctLangs, primary)).otherwise(distinctLangs)
    val nT = size(topicLangs).cast("double")
    val nO = size(others).cast("double")
    val per = when(pValid, lit(30.0)).otherwise(lit(100.0)) / nT
    val keys = when(pValid, concat(array(primary), others))
      .otherwise(when(size(others) > 0, others).otherwise(array(lit("Unknown"))))
    val raws = when(pValid, concat(array(lit(70.0)), transform(others, _ => per)))
      .otherwise(when(size(others) > 0, transform(others, _ => per))
        .otherwise(array(lit(100.0))))
    val total = when(pValid,
        lit(70.0) + when(size(others) > 0, per * nO).otherwise(lit(0.0)))
      .otherwise(when(size(others) > 0, per * nO).otherwise(lit(100.0)))
    map_from_arrays(keys, transform(raws, v => round(v / total * 100.0, 1)))
  }
}
