package graft.operators

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{IntegerType, LongType, StringType, StructField, StructType}
import graft.{Bounded, Tables}
import graft.Caches.PersistScoped

/** Shared scale-safe ranking machinery — the ONE implementation of the
  * two-pass range-repartition + partition-offset pattern the
  * percentile/quantile family used to instantiate independently
  * (q_percentile_disc, q_weighted_percentile, q_quantile_norm,
  * q_winsorize, q_rfm_segments). Three entry points:
  *
  *  - [[groupRanks]]: every row's explicit global rank within its
  *    group, for consumers that need per-row positions (quantile
  *    normalization). One data shuffle (the range exchange), no
  *    single-partition window, no per-group task funnel.
  *
  *  - [[cutValuesByRank]]: ORDER STATISTICS ONLY, count-weighted —
  *    the value at rank t of each group's sorted multiset. The range
  *    shuffle sorts within partitions (fully distributed); collected
  *    per-(partition, group) counts turn each threshold into one
  *    literal target id, so the final pass is a narrow `mid IN (…)`
  *    filter surviving ≤ |thresholds| rows. No window anywhere.
  *
  *  - [[cutValues]]: the weighted generalization — the value where
  *    each group's cumulative WEIGHT first reaches a threshold. The
  *    collected per-(partition, group) weight totals locate the one
  *    partition per crossing; only those partitions' rows meet a
  *    window.
  *
  * The per-(partition, group) count/weight table is BOUNDED BY
  * CONSTRUCTION (shuffle width × |group domain|), so both cut forms
  * collect it once and inline the crossing partitions + offsets as
  * literals — no broadcast subtree is ever re-evaluated (the join-form
  * of this plan re-ran the offset window once per consumer). Same
  * bounded-metadata collect class as the PQ codebooks and the PCA
  * covariance solve.
  *
  * All forms keep rank semantics EXPLICIT (row position / cumulative
  * weight under a caller-supplied total order), so the paired DuckDB
  * oracles share the definition by construction — no engine-specific
  * ntile/percentile tie rules anywhere.
  *
  * CUT-FORM CALLER CONTRACT: `value` must be monotone non-decreasing
  * in `order` (typically the order key itself, or a struct of it), or
  * the min is not "the value at the crossing". The group domain must
  * be enum-scale (return flags, axis tags — percentile-family
  * semantics): the caller states at most `maxGroups` groups and
  * `cutsPerGroup` threshold rows per group, and [[graft.Bounded]]
  * fails the build past them; for unbounded group domains rank every
  * row with [[groupRanks]] instead. `thresholds` maps the per-group
  * totals relation (group columns + `tw` = Σ weight) to threshold rows
  * (group columns, `tname` label, `t` BIGINT); thresholds outside
  * [1, tw] silently produce no row. Duplicate `t` values yield one
  * row per tname (callers wanting rank-collapse semantics dedupe
  * their threshold rows first). Persist an expensive `df` lineage —
  * the range exchange samples its child in a separate job.
  */
object Ranked {

  /** Adds explicit global rank `rnk` (1-based) and group size `grp_n`
    * to every row of `df` under `order` within `group`: range-
    * repartition by (group, order) so every task sorts only its own
    * slice, recover the global rank as broadcast per-(pid, group)
    * offset + local position. The local position comes from
    * monotonically_increasing_id() over the in-partition sort
    * (documented layout: partition index in the upper bits, 0-based
    * counter in the lower 33) minus the group's first id in the
    * partition — a narrow codegen'd projection; the data is shuffled
    * exactly once. The order must be TOTAL within a group (include a
    * unique key) or equal keys receive arbitrary distinct ranks.
    * persist: the partitioned relation is pinned (two readers — the
    * offset aggregate and the rank projection — must agree on sampled
    * range bounds and ids); callers with an expensive `df` lineage
    * should persist it too.
    */
  def groupRanks(df: DataFrame, group: Seq[String],
                 order: Seq[Column]): DataFrame = {
    val s = df.sparkSession
    val keys = group.map(col) ++ order
    val parts = df
      .repartitionByRange(Tables.shuffleWidth(s), keys: _*)
      .sortWithinPartitions(keys: _*)
      .withColumn("mid", monotonically_increasing_id())
      .withColumn("pid", shiftright(col("mid"), 33).cast("int"))
      .persistScoped()
    val counts = parts.groupBy((col("pid") +: group.map(col)): _*)
      .agg(count(lit(1)).as("c"), min(col("mid")).as("m0"))
    // grp_n rides the SAME bounded offsets relation (Σ c over the
    // group's pids — exact integer regrouping of the former separate
    // ns aggregate), so the rank pass builds ONE broadcast, not two.
    val offsets = counts
      .withColumn("off", sum(col("c")).over(
        Window.partitionBy(group.map(col): _*).orderBy(col("pid"))) - col("c"))
      .withColumn("grp_n",
        sum(col("c")).over(Window.partitionBy(group.map(col): _*)))
      .select((Seq(col("pid")) ++ group.map(col) ++
        Seq(col("off"), col("m0"), col("grp_n"))): _*)
    parts
      .join(broadcast(offsets), "pid" +: group)
      .withColumn("rnk", col("off") + (col("mid") - col("m0")) + 1)
      .drop("mid", "pid", "off", "m0")
  }

  /** The driver half of both cut forms: per threshold row, the ONE
    * `perPart` row (pid, group…, pw, …) whose group's exclusive prefix
    * `off` in pid order has off < t <= off + pw, as (threshold, part,
    * off, tw), plus the thresholds' `tname` field. */
  private def crossings(df: DataFrame, group: Seq[String], perPart: DataFrame,
                        width: Int, thresholds: DataFrame => DataFrame,
                        maxGroups: Int, cutsPerGroup: Int)
      : (Seq[(Row, Row, Long, Long)], StructField) = {
    val gKey = (r: Row) => group.map(r.getAs[Any])
    val byGroup = Bounded.collect(perPart, width * maxGroups,
      "per-(partition, group) rows (width × groups)").toSeq.groupBy(gKey)
    val offs = byGroup.map { case (g, rows) =>
      val sorted = rows.sortBy(_.getAs[Int]("pid"))
      g -> sorted.zip(sorted.scanLeft(0L)(_ + _.getAs[Long]("pw")))
    }
    val tw = byGroup.map { case (g, rows) => g -> rows.map(_.getAs[Long]("pw")).sum }
    val totalsSchema = StructType(group.map(g => df.schema(g)) :+
      StructField("tw", LongType, nullable = false))
    val th = Bounded.collect(thresholds(df.sparkSession.createDataFrame(
        new java.util.ArrayList(tw.map { case (g, n) => Row.fromSeq(g :+ n) }.toSeq.asJava),
        totalsSchema)),
      tw.size * cutsPerGroup, "threshold rows (groups × cuts per group)").toSeq
    val located = th.flatMap { r =>
      val t = r.getAs[Long]("t")
      offs.getOrElse(gKey(r), Nil).collectFirst {
        case (p, off) if t > off && t <= off + p.getAs[Long]("pw") =>
          (r, p, off, tw(gKey(r)))
      }
    }
    (located, th.headOption.map(_.schema("tname"))
      .getOrElse(StructField("tname", StringType)))
  }

  /** Count-weighted cut lookup: one row per surviving (group, tname) —
    * (group…, tname, cut_value = the value at rank t of the group's
    * sorted multiset, tw = the group's row count). See the object doc
    * for the plan shape and caller contract. */
  def cutValuesByRank(df: DataFrame, group: Seq[String], order: Seq[Column],
                      value: Column,
                      thresholds: DataFrame => DataFrame,
                      maxGroups: Int, cutsPerGroup: Int): DataFrame = {
    val s = df.sparkSession
    val keys = group.map(col) ++ order
    val width = Tables.shuffleWidth(s)
    val parts = df
      .repartitionByRange(width, keys: _*)
      .sortWithinPartitions(keys: _*)
      .withColumn("mid", monotonically_increasing_id())
      .persistScoped() // counts + target lookup must agree on ids
    val (located, tname) = crossings(df, group, parts
        .groupBy((shiftright(col("mid"), 33).cast("int").as("pid") +:
          group.map(col)): _*)
        .agg(count(lit(1)).as("pw"), min(col("mid")).as("m0")),
      width, thresholds, maxGroups, cutsPerGroup)
    // rank t lives at literal id m0 + (t − off − 1) of its partition
    val targets = located.map { case (r, p, off, tw) =>
      (p.getAs[Long]("m0") + (r.getAs[Long]("t") - off - 1), r.getAs[Any]("tname"), tw)
    }
    val labelSchema = StructType(Seq(
      StructField("mid", LongType, nullable = false), tname,
      StructField("tw", LongType, nullable = false)))
    val labels = s.createDataFrame(new java.util.ArrayList(
      targets.map(c => Row(c._1, c._2, c._3)).asJava), labelSchema)
    val hit = if (targets.isEmpty) lit(false)
              else col("mid").isin(targets.map(_._1): _*)
    parts.filter(hit)
      .join(broadcast(labels), Seq("mid"))
      .groupBy((group.map(col) ++ Seq(col("tname"), col("tw"))): _*)
      .agg(min(value).as("cut_value"))
  }

  /** Weighted cut lookup: one row per surviving (group, tname) —
    * (group…, tname, tw = Σ weight, cut_value = the minimum `value`
    * among rows whose cumulative weight under `order`, ties cumulated
    * together, reaches t). See the object doc for the plan shape and
    * caller contract. */
  def cutValues(df: DataFrame, group: Seq[String], order: Seq[Column],
                weight: Column, value: Column,
                thresholds: DataFrame => DataFrame,
                maxGroups: Int, cutsPerGroup: Int): DataFrame = {
    val s = df.sparkSession
    val keys = group.map(col) ++ order
    // finer than the session width on purpose: the crossing window
    // scans |thresholds| partitions of |input|/width rows each, so a
    // wider range partitioning directly shrinks the only non-narrow
    // stage (results are width-invariant — ranks come from offsets)
    val width = math.max(Tables.shuffleWidth(s), 16)
    val parts = df
      .repartitionByRange(width, keys: _*)
      .withColumn("pid", spark_partition_id())
      .persistScoped() // weight totals + crossing scan must agree on pid
    val (located, tname) = crossings(df, group,
      parts.groupBy((col("pid") +: group.map(col)): _*).agg(sum(weight).as("pw")),
      width, thresholds, maxGroups, cutsPerGroup)
    val crossSchema = StructType(
      StructField("pid", IntegerType, nullable = false) +:
        (group.map(g => df.schema(g)) ++ Seq(tname,
          StructField("t", LongType, nullable = false),
          StructField("off", LongType, nullable = false),
          StructField("tw", LongType, nullable = false))))
    val crossDf = s.createDataFrame(new java.util.ArrayList(
      located.map { case (r, p, off, tw) => Row.fromSeq(
        (p.getAs[Int]("pid") +: group.map(r.getAs[Any])) ++
          Seq(r.getAs[Any]("tname"), r.getAs[Long]("t"), off, tw)) }.asJava), crossSchema)
    val pids = located.map(_._2.getAs[Int]("pid")).distinct
    val inCrossing = if (pids.isEmpty) lit(false)
                     else col("pid").isin(pids: _*)
    // default RANGE frame: ties under `order` cumulate together, so the
    // crossing row is the full tie run's last position — exactly the
    // "value at rank t" of the sorted multiset
    val w = Window.partitionBy((col("pid") +: group.map(col)): _*)
      .orderBy(order: _*)
    parts.filter(inCrossing)
      .withColumn("cw", sum(weight).over(w))
      .join(broadcast(crossDf), "pid" +: group)
      .filter(col("off") + col("cw") >= col("t"))
      .groupBy((group.map(col) ++ Seq(col("tname"), col("tw"))): _*)
      .agg(min(value).as("cut_value"))
  }
}
