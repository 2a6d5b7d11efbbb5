package graft.pipelines

import org.apache.spark.sql.{DataFrame, Observation}
import org.apache.spark.sql.functions._

import graft.ops.Scoring

/** Stage counts a batch funnel OBSERVES (`Dataset.observe`) on a pass
  * that runs anyway, instead of caching the stage and running a count job
  * of its own: a stage with one consumer needs no barrier. An observed
  * count is read after an action over the observed frame has run. */
private[pipelines] object Funnel {

  /** `docs` hash-partitioned by doc_id across the session's cores: a
    * corpus read as one split would otherwise run every kernel before the
    * first shuffle as one task. */
  def partitioned(docs: DataFrame): DataFrame =
    docs.repartition(docs.sparkSession.sparkContext.defaultParallelism, col("doc_id"))

  /** One observation's metrics. The optimizer drops an observation over
    * a relation it proved empty, and Spark then reports no metrics for
    * it, so a missing metric reads 0. */
  private def metric(obs: Observation, name: String): Long =
    obs.get.get(name).map(_.asInstanceOf[Long]).getOrElse(0L)

  /** `df` with its row count observed; the thunk reads it after an action
    * over the returned frame has run. */
  def counted(df: DataFrame, name: String): (DataFrame, () => Long) = {
    val obs = Observation(name)
    (df.observe(obs, count(lit(1)).as("n")), () => metric(obs, "n"))
  }

  /** The q98 expectations gate as admission control, observed: `validated`
    * is the admitted rows, lazily. After an action over it, [[settle]]
    * reads the input and admitted counts from that pass, then fails the
    * run on any breach — or, with a quarantine dir, writes the breaching
    * rows there (always overwriting, so a clean run clears a previous
    * run's breaches). `divertParam` names the caller's quarantine
    * parameter in the error. */
  final class Expectations(input: DataFrame, quarantineDir: Option[String],
      divertParam: String) {
    private val checked = Scoring.expectationsChecked(input)
    private val obs = Observation("expectations")
    val validated: DataFrame = checked
      .observe(obs, count(lit(1)).as("n"),
        coalesce(sum(col("_expect_ok").cast("long")), lit(0L)).as("ok"))
      .filter(col("_expect_ok")).drop("_expect_ok")

    def settle(): (Long, Long) = {
      // expectationsChecked never loses a row, so n is the input count
      val (nInput, nOk) = (metric(obs, "n"), metric(obs, "ok"))
      val nBreached = nInput - nOk
      if (nBreached > 0 && quarantineDir.isEmpty)
        throw new IllegalStateException(
          s"expectations breach: $nBreached rows (duplicate or null doc_id, " +
            s"null text, or inconsistent n_chars); pass $divertParam to " +
            "divert instead of failing")
      quarantineDir.foreach(qd =>
        checked.filter(!col("_expect_ok")).drop("_expect_ok")
          .write.mode("overwrite").parquet(qd))
      (nInput, nOk)
    }
  }
}
