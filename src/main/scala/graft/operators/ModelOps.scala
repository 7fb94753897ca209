package graft.operators

import graft.Util._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Model-evaluation cards — the offline metrics a filtering/curation
  * model (quality classifier, dedup keeper-scorer, contamination
  * detector) is judged by before it gates a 100 TB corpus: ranking
  * power (AUC), probability honesty (calibration + Brier), and the
  * operating point (threshold sweep). All three run against a
  * DETERMINISTIC closed-form scorer (a rational logistic over exact
  * column arithmetic — every FP op correctly rounded, no libm calls),
  * so the Spark results hash-match the DuckDB oracles bit-for-bit.
  *
  * Scale shape shared by all three: one pass over the scored rows into
  * a hash aggregate whose cardinality is the SCORE GRID (bounded by the
  * value domain, not row count), then windows/folds over that small
  * frame. AUC in particular never materializes pos×neg pairs — the
  * Mann-Whitney rank identity turns it into a cumulative window over
  * distinct scores, all in exact integer arithmetic until one final
  * division.
  */
object ModelOps {

  /** The deterministic scorer: label = line item was returned;
    * p = z/(1+z) with z = 10·discount + quantity/10 — a rational
    * logistic (no exp), kept in textually identical op order on both
    * engines, then snapped to the 1e-6 grid so downstream sums can be
    * exact decimals.
    */
  private def scored(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val z = $"l_discount" * 10 + $"l_quantity" / 10.0
    table(spark, dir, "lineitem").select(
      round(z / (z + 1.0), 6).as("p"),
      when($"l_returnflag" === "R", 1L).otherwise(0L).as("y"))
  }

  private val scoredSql =
    """SELECT round((l_discount*10 + l_quantity/10.0) /
      |    ((l_discount*10 + l_quantity/10.0) + 1.0), 6) AS p,
      |  CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS y
      |FROM lineitem""".stripMargin

  /** q224: AUC / Gini via the Mann-Whitney rank identity with exact tie
    * handling — AUC = (Σ_pos avgrank − n₊(n₊+1)/2) / (n₊·n₋), where
    * ties share their average rank. Grouping by distinct score first
    * makes every quantity an integer: with per-score (n, n₊) and the
    * cumulative count before the score, 2·Σ_pos avgrank =
    * Σ n₊·(2·cum_prev + n + 1). One data pass, one window over the
    * score grid, one final double division — no pos×neg pair join, so
    * the cost at 100 TB is the scan plus a grid-sized shuffle.
    */
  def q224AucCard(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val g = scored(spark, dir).groupBy($"p")
      .agg(count(lit(1)).as("n"), sum($"y").as("npos"))
    val w = Window.orderBy($"p")
    val r = g.withColumn("cum_prev",
      coalesce(sum($"n").over(w.rowsBetween(Window.unboundedPreceding, -1)),
        lit(0L)))
    r.agg(
        sum($"npos" * ($"cum_prev" * 2 + $"n" + 1)).as("u2"),
        sum($"npos").as("np"),
        (sum($"n") - sum($"npos")).as("nn"))
      .select(
        $"np".as("n_pos"), $"nn".as("n_neg"),
        round(($"u2" - $"np" * ($"np" + 1)).cast("double") /
          ($"np" * $"nn" * 2.0), 6).as("auc"),
        round(($"u2" - $"np" * ($"np" + 1)).cast("double") /
          ($"np" * $"nn").cast("double") - 1.0, 6).as("gini"))
  }

  val q224Sql: String =
    s"""WITH s AS ($scoredSql),
      |g AS (SELECT p, COUNT(*) AS n, SUM(y) AS npos FROM s GROUP BY p),
      |r AS (
      |  SELECT n, npos,
      |    COALESCE(SUM(n) OVER (ORDER BY p
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_prev
      |  FROM g),
      |t AS (
      |  SELECT SUM(npos * (cum_prev * 2 + n + 1)) AS u2, SUM(npos) AS np,
      |    SUM(n) - SUM(npos) AS nn
      |  FROM r)
      |SELECT CAST(np AS BIGINT) AS n_pos, CAST(nn AS BIGINT) AS n_neg,
      |  ROUND(CAST(u2 - np*(np+1) AS DOUBLE) / (np * nn * 2.0), 6) AS auc,
      |  ROUND(CAST(u2 - np*(np+1) AS DOUBLE) / CAST(np * nn AS DOUBLE) - 1.0,
      |    6) AS gini
      |FROM t""".stripMargin

  /** q225: calibration / reliability card — decile bins of the
    * predicted probability vs the realized positive rate, plus the
    * per-bin Brier score. A model can rank perfectly (q224) and still
    * lie about probabilities; a curation pipeline that thresholds on
    * p=0.5 needs p to MEAN 0.5. All sums are exact decimals: p sits on
    * the 1e-6 grid, (p−y)² on the 1e-12 grid and exactly representable,
    * so both engines fold identical values in any order.
    */
  def q225CalibrationCard(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    scored(spark, dir)
      .groupBy(least(floor($"p" * 10).cast("long"), lit(9L)).as("bin"))
      .agg(count(lit(1)).as("n"),
        round(dsum6($"p") / count(lit(1)), 6).as("avg_p"),
        round(sum($"y").cast("double") / count(lit(1)), 6).as("pos_rate"),
        round(sum((($"p" - $"y") * ($"p" - $"y")).cast(DecimalType(32, 12)))
          .cast("double") / count(lit(1)), 6).as("brier"))
      .orderBy($"bin")
  }

  val q225Sql: String =
    s"""WITH s AS ($scoredSql)
      |SELECT LEAST(CAST(FLOOR(p * 10) AS BIGINT), 9) AS bin,
      |  COUNT(*) AS n,
      |  ROUND(CAST(SUM(CAST(p AS DECIMAL(24,6))) AS DOUBLE) / COUNT(*), 6)
      |    AS avg_p,
      |  ROUND(CAST(SUM(y) AS DOUBLE) / COUNT(*), 6) AS pos_rate,
      |  ROUND(CAST(SUM(CAST((p - y) * (p - y) AS DECIMAL(32,12))) AS DOUBLE)
      |    / COUNT(*), 6) AS brier
      |FROM s GROUP BY 1 ORDER BY bin""".stripMargin

  /** q226: operating-point sweep — confusion counts and P/R/F1 at nine
    * thresholds, computed in ONE pass via a constant ×9 threshold
    * explode into a 9-group aggregate (not nine scans). F1 comes from
    * the integer identity 2tp/(2tp+fp+fn), so the only doubles are the
    * three final divisions. Precision is NULL by contract when nothing
    * is predicted positive (ANSI division never fires).
    */
  def q226ThresholdSweep(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val ts = array((1L to 9L).map(lit): _*)
    val g = scored(spark, dir)
      .select($"p", $"y", explode(ts).as("t"))
      .groupBy($"t")
      .agg(
        sum(when($"p" >= $"t" / 10.0 && $"y" === 1, 1L).otherwise(0L)).as("tp"),
        sum(when($"p" >= $"t" / 10.0 && $"y" === 0, 1L).otherwise(0L)).as("fp"),
        sum(when($"p" < $"t" / 10.0 && $"y" === 1, 1L).otherwise(0L)).as("fn"),
        sum(when($"p" < $"t" / 10.0 && $"y" === 0, 1L).otherwise(0L)).as("tn"))
    g.select($"t", $"tp", $"fp", $"fn", $"tn",
        when($"tp" + $"fp" > 0,
          round($"tp".cast("double") / ($"tp" + $"fp"), 6)).as("precision"),
        round($"tp".cast("double") / ($"tp" + $"fn"), 6).as("recall"),
        round($"tp" * 2.0 / ($"tp" * 2 + $"fp" + $"fn"), 6).as("f1"))
      .orderBy($"t")
  }

  val q226Sql: String =
    s"""WITH s AS ($scoredSql),
      |e AS (SELECT p, y, UNNEST([1,2,3,4,5,6,7,8,9]) AS t FROM s),
      |g AS (
      |  SELECT CAST(t AS BIGINT) AS t,
      |    SUM(CASE WHEN p >= t/10.0 AND y = 1 THEN 1 ELSE 0 END) AS tp,
      |    SUM(CASE WHEN p >= t/10.0 AND y = 0 THEN 1 ELSE 0 END) AS fp,
      |    SUM(CASE WHEN p <  t/10.0 AND y = 1 THEN 1 ELSE 0 END) AS fn,
      |    SUM(CASE WHEN p <  t/10.0 AND y = 0 THEN 1 ELSE 0 END) AS tn
      |  FROM e GROUP BY 1)
      |SELECT t, CAST(tp AS BIGINT) AS tp, CAST(fp AS BIGINT) AS fp,
      |  CAST(fn AS BIGINT) AS fn, CAST(tn AS BIGINT) AS tn,
      |  CASE WHEN tp + fp > 0
      |    THEN ROUND(CAST(tp AS DOUBLE) / (tp + fp), 6) END AS precision,
      |  ROUND(CAST(tp AS DOUBLE) / (tp + fn), 6) AS recall,
      |  ROUND(tp * 2.0 / (tp * 2 + fp + fn), 6) AS f1
      |FROM g ORDER BY t""".stripMargin

  /** The suite's deterministic Knuth multiplicative-hash uniform
    * (overflow-free mulmod split, [[graft.api.Sampling]]'s convention)
    * over a key column — inlined here for the conformal split so the
    * oracle draws the identical train/calibration/evaluation rows.
    */
  private def knuthU(id: Column): Column = {
    val x = pmod(id.cast("long"), lit(4294967296L))
    val lo = pmod(x, lit(65536L))
    val hi = ((x - lo) / lit(65536L)).cast("long")
    (pmod(pmod(hi * 2654435761L, lit(65536L)) * 65536L + lo * 2654435761L,
      lit(4294967296L)).cast("double") / 4294967296.0)
  }

  private val knuthUSql: String =
    "(CAST(((((x // 65536) * 2654435761) % 65536) * 65536" +
      " + (x % 65536) * 2654435761) % 4294967296 AS DOUBLE) / 4294967296.0)"

  /** q265: split-conformal prediction intervals (Vovk et al.; the
    * Angelopoulos-Bates recipe) for a per-priority order-value
    * predictor — the distribution-free uncertainty wrapper any point
    * model gets before its predictions gate decisions. Three
    * deterministic Knuth-hash splits of orders (train u<0.5,
    * calibration 0.5≤u<0.75, evaluation u≥0.75); the model is the
    * train-split per-priority exact-decimal mean; q̂ is the 0.9
    * calibration quantile of |residual| via the scale-safe
    * [[Extended.exactQuantilesMulti]] engine (same bit-identical
    * interpolation as q51 — no percentile aggregate anywhere); the card
    * reports held-out coverage of ŷ ± q̂, which lands ≈0.9 exactly as
    * the theory promises (the finite-sample ⌈(n+1)(1−α)⌉/n correction
    * is sub-resolution at these calibration sizes and is documented
    * out). Scale shape: two tiny per-group aggregates broadcast back,
    * one narrow covered/not flag per evaluation row, one final
    * conditional count — the corpus never shuffles.
    */
  def q265ConformalInterval(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val o = table(spark, dir, "orders")
      .select($"o_orderpriority".as("grp"), $"o_totalprice".as("y"),
        knuthU($"o_orderkey").as("u"))
    val yhat = o.filter($"u" < 0.5)
      .groupBy($"grp")
      .agg(count(lit(1)).as("n_train"),
        (sum($"y".cast(DecimalType(18, 2))).cast("double") / count(lit(1)))
          .as("yhat"))
    val calib = o.filter($"u" >= 0.5 && $"u" < 0.75)
      .join(broadcast(yhat), "grp")
      .withColumn("r", abs($"y" - $"yhat"))
    val nCalib = calib.groupBy($"grp").agg(count(lit(1)).as("n_calib"))
    val qhat = Extended.exactQuantilesMulti(calib, Some("grp"),
        Seq("r" -> Seq(0.9)))
      .toSeq.map { case (g, m) => (g.asInstanceOf[String], m(("r", 0.9))) }
      .toDF("grp", "qhat")
    val ev = o.filter($"u" >= 0.75)
      .join(broadcast(yhat), "grp")
      .join(broadcast(qhat), "grp")
      .groupBy($"grp")
      .agg(count(lit(1)).as("n_eval"),
        sum(when(abs($"y" - $"yhat") <= $"qhat", 1L).otherwise(0L))
          .as("n_covered"))
    yhat.join(broadcast(nCalib), "grp").join(broadcast(qhat), "grp")
      .join(ev, "grp")
      .select($"grp".as("o_orderpriority"), $"n_train", $"n_calib",
        $"n_eval", round($"yhat", 4).as("yhat"),
        round($"qhat", 4).as("qhat"),
        round($"qhat" * 2.0, 4).as("interval_width"),
        round($"n_covered".cast("double") / $"n_eval", 4).as("coverage"))
      .orderBy($"o_orderpriority")
  }

  val q265Sql: String =
    s"""WITH o AS (
      |  SELECT o_orderpriority AS grp, o_totalprice AS y, $knuthUSql AS u
      |  FROM (SELECT *, o_orderkey % 4294967296 AS x FROM orders)),
      |tr AS (
      |  SELECT grp, COUNT(*) AS n_train,
      |    CAST(SUM(CAST(y AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS yhat
      |  FROM o WHERE u < 0.5 GROUP BY 1),
      |ca AS (
      |  SELECT o.grp, abs(y - yhat) AS r
      |  FROM o JOIN tr ON o.grp = tr.grp WHERE u >= 0.5 AND u < 0.75),
      |q AS (
      |  SELECT grp, COUNT(*) AS n_calib, quantile_cont(r, 0.9) AS qhat
      |  FROM ca GROUP BY 1),
      |ev AS (
      |  SELECT o.grp, COUNT(*) AS n_eval,
      |    SUM(CASE WHEN abs(y - yhat) <= qhat THEN 1 ELSE 0 END)
      |      AS n_covered
      |  FROM o JOIN tr ON o.grp = tr.grp JOIN q ON o.grp = q.grp
      |  WHERE u >= 0.75 GROUP BY 1)
      |SELECT tr.grp AS o_orderpriority,
      |  CAST(tr.n_train AS BIGINT) AS n_train,
      |  CAST(q.n_calib AS BIGINT) AS n_calib,
      |  CAST(ev.n_eval AS BIGINT) AS n_eval,
      |  ROUND(tr.yhat, 4) AS yhat, ROUND(q.qhat, 4) AS qhat,
      |  ROUND(q.qhat * 2.0, 4) AS interval_width,
      |  ROUND(CAST(ev.n_covered AS DOUBLE) / ev.n_eval, 4) AS coverage
      |FROM tr JOIN q ON tr.grp = q.grp JOIN ev ON tr.grp = ev.grp
      |ORDER BY o_orderpriority""".stripMargin

  /** q335: Murphy decomposition of the Brier score over decile bins —
    * Brier = reliability − resolution + uncertainty (+ within-bin
    * forecast variance, reported as the residual): REL says how far the
    * binned probabilities lie from realized rates, RES how much the
    * bins separate the base rate, UNC the irreducible ȳ(1−ȳ). The
    * algebra runs on per-bin EXACT sums only — n_k(p̄_k−ȳ_k)² =
    * (Σp−Σy)²/n_k and n_k(ȳ_k−ȳ)² = (N·Σy_k − Y·n_k)²/(n_k·N²) with
    * the squares in decimal — each bin's term takes ONE
    * correctly-rounded double division, is snapped to the 1e-12 grid,
    * and the 10-bin fold is a decimal sum. One scan, a 10-row frame.
    */
  def q335BrierDecomposition(spark: SparkSession, dir: String): DataFrame =
    brierFromBins(calibrationBins(scored(spark, dir)))

  /** Decile-bin sufficient statistics of a (p, y) frame — the mergeable
    * state both the batch q335 and the live
    * [[graft.streaming.StreamOps.calibrationIngestStream]] twin reduce
    * to: (bin, n, Σp, Σy, Σ(p−y)²), all exact counts/decimals, so bins
    * from different micro-batches merge by plain summation.
    */
  def calibrationBins(scored: DataFrame): DataFrame =
    scored
      .groupBy(least(floor(col("p") * 10).cast("long"), lit(9L)).as("bin"))
      .agg(count(lit(1)).as("n"),
        sum(col("p").cast(DecimalType(24, 6))).as("sp"),
        sum(col("y")).as("sy"),
        sum(((col("p") - col("y")) * (col("p") - col("y")))
          .cast(DecimalType(32, 12))).as("sq"))

  /** One live-calibration micro-batch: reduces the batch to its
    * decile-bin sufficient statistics and writes them as the batch's
    * `batch_id` partition, which a re-delivery rewrites
    * ([[graft.Util.appendOnce]]) — state grows with bins × batches,
    * never rows. Public so the replay spec can drive it directly.
    */
  def appendCalibrationBatchIdempotent(batch: DataFrame, path: String,
      batchId: Long): Unit = {
    appendOnce(batch.sparkSession, path, batchId)(calibrationBins(batch))
  }

  /** Read side of the live calibration monitor: sum-merge the per-batch
    * bin statistics and run the SAME Murphy decomposition as the batch
    * q335 — stream == batch is the additivity of the sufficient
    * statistics. Reads only the bins table.
    */
  def brierReport(spark: SparkSession, path: String): DataFrame =
    brierFromBins(readBatched(spark, path)
      .groupBy(col("bin"))
      .agg(sum(col("n")).as("n"), sum(col("sp")).as("sp"),
        sum(col("sy")).as("sy"), sum(col("sq")).as("sq"))
      .select(col("bin"), col("n"),
        col("sp").cast(DecimalType(24, 6)).as("sp"), col("sy"),
        col("sq").cast(DecimalType(32, 12)).as("sq")))

  /** The Murphy decomposition from bin sufficient statistics (shared by
    * q335 and the live twin; see q335's doc for the exact-arithmetic
    * contract).
    */
  def brierFromBins(bins0: DataFrame): DataFrame = {
    val spark = bins0.sparkSession
    import spark.implicits._
    val bins = bins0
    val tot = bins.agg(sum($"n").as("nn"), sum($"sy").as("yy"),
      sum($"sq").as("sqall"))
    // each term is pre-divided by N so its magnitude stays ≤ 1 — a
    // 1e-12 round() below 1 is inside double precision on both engines
    val terms = bins.crossJoin(broadcast(tot))
      .select(
        $"n", $"sq",
        // (Σp − Σy)² / (n_k·N), snapped to 1e-12
        round((($"sp" - $"sy").cast(DecimalType(19, 6)) *
          ($"sp" - $"sy").cast(DecimalType(19, 6))).cast("double") /
          ($"n" * $"nn").cast("double"), 12)
          .cast(DecimalType(38, 12)).as("rel_t"),
        // (N·Σy_k − Y·n_k)² / (n_k·N³), snapped to 1e-12
        round((($"sy" * $"nn" - $"yy" * $"n").cast(DecimalType(19, 0)) *
          ($"sy" * $"nn" - $"yy" * $"n").cast(DecimalType(19, 0)))
          .cast("double") / ($"n".cast("double") * $"nn".cast("double") *
            $"nn".cast("double") * $"nn".cast("double")), 12)
          .cast(DecimalType(38, 12)).as("res_t"),
        $"nn", $"yy")
    terms.groupBy($"nn", $"yy")
      .agg(sum($"sq").as("sqall"), sum($"rel_t").as("rel"),
        sum($"res_t").as("res"))
      .select(
        $"nn".as("n"),
        round($"sqall".cast("double") / $"nn", 6).as("brier"),
        round($"rel".cast("double"), 6).as("reliability"),
        round($"res".cast("double"), 6).as("resolution"),
        round(($"yy" * ($"nn" - $"yy")).cast("double") /
          ($"nn" * $"nn").cast("double"), 6).as("uncertainty"),
        round($"sqall".cast("double") / $"nn" -
          ($"rel".cast("double") - $"res".cast("double") +
            ($"yy" * ($"nn" - $"yy")).cast("double") /
              ($"nn" * $"nn").cast("double")), 6).as("within_bin_var"))
  }

  val q335Sql: String =
    s"""WITH s AS ($scoredSql),
      |bins AS (
      |  SELECT LEAST(CAST(FLOOR(p * 10) AS BIGINT), 9) AS bin,
      |    CAST(COUNT(*) AS BIGINT) AS n,
      |    SUM(CAST(p AS DECIMAL(24,6))) AS sp,
      |    CAST(SUM(y) AS BIGINT) AS sy,
      |    SUM(CAST((p - y) * (p - y) AS DECIMAL(32,12))) AS sq
      |  FROM s GROUP BY 1),
      |tot AS (
      |  SELECT CAST(SUM(n) AS BIGINT) AS nn, CAST(SUM(sy) AS BIGINT) AS yy,
      |    SUM(sq) AS sqall
      |  FROM bins),
      |terms AS (
      |  SELECT n, sq, nn, yy,
      |    CAST(ROUND(CAST(CAST(sp - sy AS DECIMAL(19,6))
      |        * CAST(sp - sy AS DECIMAL(19,6)) AS DOUBLE)
      |      / CAST(n * nn AS DOUBLE), 12) AS DECIMAL(38,12)) AS rel_t,
      |    CAST(ROUND(CAST(CAST(sy * nn - yy * n AS DECIMAL(19,0))
      |        * CAST(sy * nn - yy * n AS DECIMAL(19,0)) AS DOUBLE)
      |      / (CAST(n AS DOUBLE) * CAST(nn AS DOUBLE) * CAST(nn AS DOUBLE)
      |        * CAST(nn AS DOUBLE)), 12) AS DECIMAL(38,12)) AS res_t
      |  FROM bins CROSS JOIN tot),
      |f AS (
      |  SELECT nn, yy, SUM(sq) AS sqall, SUM(rel_t) AS rel,
      |    SUM(res_t) AS res
      |  FROM terms GROUP BY 1, 2)
      |SELECT nn AS n,
      |  ROUND(CAST(sqall AS DOUBLE) / nn, 6) AS brier,
      |  ROUND(CAST(rel AS DOUBLE), 6) AS reliability,
      |  ROUND(CAST(res AS DOUBLE), 6) AS resolution,
      |  ROUND(CAST(yy * (nn - yy) AS DOUBLE)
      |    / CAST(nn * nn AS DOUBLE), 6) AS uncertainty,
      |  ROUND(CAST(sqall AS DOUBLE) / nn
      |    - (CAST(rel AS DOUBLE) - CAST(res AS DOUBLE)
      |      + CAST(yy * (nn - yy) AS DOUBLE) / CAST(nn * nn AS DOUBLE)), 6)
      |    AS within_bin_var
      |FROM f""".stripMargin

  /** q353: cumulative-gains / decile-lift table for the q224 scorer —
    * the ranking-utilization readout between AUC (q224, one number) and
    * the threshold sweep (q226, operating points): "screening the
    * top-d·10% of rows by score captures what share of all positives,
    * at what lift over random". Ties make row-level NTILE engine-
    * ambiguous, so deciles cut on the SCORE GRID: per distinct score,
    * cumulative rows/positives (descending score), and each decile
    * reports the first grid row whose coverage crosses d/10 — exact
    * integer threshold compares, identical cuts on both engines. One
    * scan into the grid, one window, a 10-row readout.
    */
  def q353GainsChart(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val g = scored(spark, dir).groupBy($"p")
      .agg(count(lit(1)).as("n"), sum($"y").as("npos"))
    val w = Window.orderBy($"p".desc)
    val cum = g
      .withColumn("cum_n", sum($"n").over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("cum_pos", sum($"npos").over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .crossJoin(broadcast(g.agg(sum($"n").as("nn"), sum($"npos").as("pp"))))
      .localCheckpoint() // |score grid| rows
    val deciles = spark.range(1, 11).toDF("decile")
    deciles.join(cum, $"cum_n" * 10 >= $"decile" * $"nn")
      .groupBy($"decile").agg(min($"cum_n").as("cut_n"))
      .join(cum, $"cut_n" === $"cum_n")
      .select($"decile", $"cum_n".as("n_screened"), $"cum_pos".as("pos_captured"),
        round($"cum_n".cast("double") / $"nn", 6).as("coverage"),
        round($"cum_pos".cast("double") / $"pp", 6).as("gain"),
        round(($"cum_pos".cast("double") / $"pp") /
          ($"cum_n".cast("double") / $"nn"), 6).as("lift"))
      .orderBy($"decile")
  }

  val q353Sql: String =
    s"""WITH s AS ($scoredSql),
      |g AS (SELECT p, CAST(COUNT(*) AS BIGINT) AS n,
      |  CAST(SUM(y) AS BIGINT) AS npos FROM s GROUP BY p),
      |cum AS (
      |  SELECT p,
      |    SUM(n) OVER (ORDER BY p DESC
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_n,
      |    SUM(npos) OVER (ORDER BY p DESC
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_pos
      |  FROM g),
      |tot AS (SELECT CAST(SUM(n) AS BIGINT) AS nn,
      |  CAST(SUM(npos) AS BIGINT) AS pp FROM g),
      |cuts AS (
      |  SELECT d.decile, MIN(cum_n) AS cut_n
      |  FROM (SELECT CAST(unnest(range(1, 11)) AS BIGINT) AS decile) d
      |  JOIN cum CROSS JOIN tot ON cum_n * 10 >= d.decile * nn
      |  GROUP BY 1)
      |SELECT decile, CAST(cum_n AS BIGINT) AS n_screened,
      |  CAST(cum_pos AS BIGINT) AS pos_captured,
      |  ROUND(CAST(cum_n AS DOUBLE) / nn, 6) AS coverage,
      |  ROUND(CAST(cum_pos AS DOUBLE) / pp, 6) AS gain,
      |  ROUND((CAST(cum_pos AS DOUBLE) / pp)
      |    / (CAST(cum_n AS DOUBLE) / nn), 6) AS lift
      |FROM cuts JOIN cum ON cut_n = cum_n CROSS JOIN tot
      |ORDER BY decile""".stripMargin

  val queries: Seq[(String, Q)] = Seq(
    "q353_gains_chart" -> (q353GainsChart _),
    "q335_brier_decomposition" -> (q335BrierDecomposition _),
    "q224_auc_card" -> (q224AucCard _),
    "q225_calibration_card" -> (q225CalibrationCard _),
    "q226_threshold_sweep" -> (q226ThresholdSweep _),
    "q265_conformal_interval" -> (q265ConformalInterval _))

  val oracles: Seq[(String, String)] = Seq(
    "q353_gains_chart" -> q353Sql,
    "q335_brier_decomposition" -> q335Sql,
    "q224_auc_card" -> q224Sql,
    "q225_calibration_card" -> q225Sql,
    "q226_threshold_sweep" -> q226Sql,
    "q265_conformal_interval" -> q265Sql)
}
