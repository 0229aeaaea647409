package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Percentile aggregates with the scale contract made explicit.
  *
  * Spark's exact `percentile` buffers EVERY value of the column in the final
  * aggregation task — exact and cheap on an aggregated or mid-size frame, a
  * guaranteed single-task OOM on a 100 TB fact table. [[exact]] therefore
  * carries a row-count guard: above `maxRows` it refuses with a pointer to
  * [[approx]], Spark's `approx_percentile` (Greenwald–Khanna style sketch,
  * bounded memory, mergeable across partitions — the at-scale default, see
  * SketchSpec for its error-bound contract against the exact answer).
  */
object Percentiles {

  /** One array-form exact `percentile` aggregate per column (ONE sort buffer
    * per column, not one per probability). Output: a single row with an
    * array column `{col}_pcts` per input column, probabilities in order.
    *
    * `maxRows` is the single-task-buffer guard described above. The count
    * that enforces it is metadata-only for a bare parquet scan; for a derived
    * frame (post-join/filter) it computes the input once — pass `knownRows`
    * (e.g. from an upstream count the pipeline already has) to skip that
    * extra pass, at the caller's own accuracy risk.
    */
  def exact(
      df: DataFrame,
      pcts: Seq[(String, Seq[Double])],
      maxRows: Long = 100000000L,
      knownRows: Long = -1L): DataFrame = {
    val n = if (knownRows >= 0) knownRows else df.count()
    require(n <= maxRows,
      s"exact percentile buffers the full column in ONE task: $n rows exceeds " +
        s"maxRows=$maxRows. Use Percentiles.approx (mergeable sketch, bounded " +
        s"memory) at this scale, or raise maxRows deliberately.")
    val aggs = pcts.map { case (c, ps) =>
      expr(s"percentile($c, array(${ps.map(p => s"${p}D").mkString(", ")}))")
        .as(s"${c}_pcts")
    }
    df.agg(aggs.head, aggs.tail: _*)
  }

  /** The approx twin: same output shape (`{col}_pcts` arrays), computed by
    * `approx_percentile` at the given accuracy (error ≤ 1/accuracy of the
    * rank). Runs with bounded executor memory at any row count.
    */
  def approx(
      df: DataFrame,
      pcts: Seq[(String, Seq[Double])],
      accuracy: Int = 10000): DataFrame = {
    val aggs = pcts.map { case (c, ps) =>
      expr(s"approx_percentile($c, array(${ps.map(p => s"${p}D").mkString(", ")}), $accuracy)")
        .as(s"${c}_pcts")
    }
    df.agg(aggs.head, aggs.tail: _*)
  }

  /** GROUPED exact percentiles: one row per key with the same `{col}_pcts`
    * array shape — per-stratum distribution summaries (per-source length
    * percentiles, per-tenant latency quantiles) in one aggregation job.
    *
    * The buffer guard shifts meaning: exact percentile buffers each
    * GROUP's values in its final-aggregation task, so the contract is the
    * largest group ≤ `maxGroupRows` — enforced with a cheap count-by-key
    * pre-pass (skippable via `knownMaxGroup` when the pipeline already
    * knows its skew). At corpus scale use [[approxBy]]: mergeable sketches,
    * bounded memory per group, no pre-pass.
    */
  def exactBy(
      df: DataFrame,
      keyCol: String,
      pcts: Seq[(String, Seq[Double])],
      maxGroupRows: Long = 100000000L,
      knownMaxGroup: Long = -1L): DataFrame = {
    val biggest =
      if (knownMaxGroup >= 0) knownMaxGroup
      else {
        // max over zero groups is null — an empty input passes the guard
        // (and produces an empty result) instead of NPEing in it
        val r = df.groupBy(col(keyCol)).count().agg(max("count")).head()
        if (r.isNullAt(0)) 0L else r.getLong(0)
      }
    require(biggest <= maxGroupRows,
      s"exactBy buffers each group in one task: largest group $biggest exceeds " +
        s"maxGroupRows=$maxGroupRows. Use Percentiles.approxBy at this scale.")
    val aggs = pcts.map { case (c, ps) =>
      expr(s"percentile($c, array(${ps.map(p => s"${p}D").mkString(", ")}))")
        .as(s"${c}_pcts")
    }
    df.groupBy(col(keyCol)).agg(aggs.head, aggs.tail: _*)
  }

  /** EXACT percentiles over the distinct-value GRID — same results as
    * [[exact]] (pinned in SketchSpec), different distributed shape: instead
    * of buffering every VALUE of the column in one final-aggregation task
    * (Spark's `percentile` — the 1.4 s single-task merge the round-15
    * StageProf measured on 600k rows, and the reason [[exact]] carries a
    * row-count guard), group by value (map-side partial aggregation —
    * fully parallel), bucket the DISTINCT-VALUE grid by an order-preserving
    * value function, and turn the cumulative count into a two-pass prefix
    * read (round 16; guide §2/§5): pass 1 collects the per-bucket subtotals
    * (one long per bucket), pass 2 reads the requested ranks out of ONLY
    * the buckets that contain them (~cells/buckets grid rows each on
    * value-spread data; a value-concentrated grid whose needed buckets are
    * still millions of cells falls back to a bucket-parallel prefix-sum
    * window — no single-task window anywhere on any path). Each requested
    * rank becomes a value via Spark's own interpolation formula:
    *
    *   position = p · (N − 1);  lower = ⌊position⌋;  higher = ⌈position⌉
    *   value(r) = min v with cum(v) ≥ r + 1
    *   result   = (higher − position)·value(lower)
    *            + (position − lower)·value(higher)     [lower == higher →
    *              value(lower)]
    *
    * — the identical doubles `PercentileBase.getPercentile` produces (same
    * operands, same order), so callers' 4dp-rounded contracts are
    * unchanged.
    *
    * EAGER (round 16): the grid jobs run at CALL time and the returned
    * frame is one literal-backed row — so the per-column scratch cache
    * lives only inside this call (persist → compute → unpersist; nothing
    * outlives the call, and repeated invocations recompute from source),
    * and no crossJoin/broadcast appears in the caller's plan. `maxGridCells`
    * still guards total grid size (executor memory for the cached grid +
    * the rank aggregate); per-task state is now `cells / parallelism`.
    * Rows with null values are excluded (percentile semantics); an
    * empty/all-null column yields a NULL array like `percentile` itself.
    */
  def exactGrid(
      df: DataFrame,
      pcts: Seq[(String, Seq[Double])],
      maxGridCells: Long = 50000000L): DataFrame = {
    val vals = exactGridValuesAll(df, pcts, maxGridCells)
    val outCols = pcts.map { case (c, _) =>
      vals(c) match {
        case None => lit(null).cast("array<double>").as(s"${c}_pcts")
        case Some(vs) => array(vs.map(v => lit(v)): _*).as(s"${c}_pcts")
      }
    }
    df.sparkSession.range(1).select(outCols: _*)
  }

  /** Value-level core of [[exactGrid]] for one column (None on an
    * empty/all-null column) — exposed so value-level callers
    * (ops.Normalize) can embed the results as literals instead of
    * re-joining a one-row frame.
    */
  private[graft] def exactGridValues(df: DataFrame, c: String,
      ps: Seq[Double], maxGridCells: Long = 50000000L): Option[Seq[Double]] =
    exactGridValuesAll(df, Seq(c -> ps), maxGridCells)(c)

  /** The fused multi-column grid (round 16): ONE scan + ONE count-by-value
    * aggregation over an exploded `(column, value)` stream computes every
    * requested column's grid together — a two-column caller (e10) pays one
    * source pass and three jobs total, not per column. See [[exactGrid]]
    * for the algorithm and the exactness argument; column names must be
    * distinct.
    *
    * `maxCollectCells` bounds the driver: when the buckets holding the
    * requested ranks hold at most that many grid rows in total, job 3
    * collects them and reads the ranks on the driver; above it the ranks
    * are read by the bucket-parallel window instead (same values, no
    * driver collect).
    */
  private[graft] def exactGridValuesAll(df: DataFrame,
      pcts: Seq[(String, Seq[Double])],
      maxGridCells: Long = 50000000L,
      maxCollectCells: Long = 4000000L): Map[String, Option[Seq[Double]]] = {
    import org.apache.spark.sql.expressions.Window
    require(maxGridCells > 0, s"maxGridCells must be positive: $maxGridCells")
    val names = pcts.map(_._1)
    require(names.distinct.size == names.size,
      s"exactGrid needs distinct column names, got $names")
    val spark = df.sparkSession
    // the bucket is a DETERMINISTIC order-preserving function of the value
    // (uniform width_bucket over each column's job-1 min/max), so lower
    // buckets' subtotals + a bucket-local read give the GLOBAL rank order —
    // no range shuffle (whose partitioner SAMPLES, i.e. computes the grid
    // twice) and no partition-id freezing; the persist is purely a
    // recompute-saver and is released before returning.
    val entries = pcts.map { case (c, _) =>
      struct(lit(c).as("c"), col(c).cast("double").as("v"))
    }
    val grid = df.select(explode(array(entries: _*)).as("e"))
      .select(col("e.c").as("c"), col("e.v").as("v"))
      .where(col("v").isNotNull)
      .groupBy(col("c"), col("v")).agg(count(lit(1)).as("cnt"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      // job 1 (the only full compute — it materializes the cache): per
      // column, guard cells, row total, value range
      val stats = grid.groupBy(col("c")).agg(count(lit(1)).as("cells"),
        sum(col("cnt")).as("n"), min(col("v")).as("mn"), max(col("v")).as("mx"))
        .collect()
        .map(r => r.getString(0) ->
          ((r.getLong(1), r.getLong(2), r.getDouble(3), r.getDouble(4))))
        .toMap
      stats.foreach { case (c, (cells, _, _, _)) =>
        require(cells <= maxGridCells,
          s"exactGrid: $cells distinct values of '$c' exceed maxGridCells=" +
            s"$maxGridCells (the grid is cached and rank-scanned whole). " +
            "Use Percentiles.approx at this cardinality.")
      }
      val live = pcts.filter { case (c, _) => stats.contains(c) }
      if (live.isEmpty) names.map(_ -> None).toMap
      else {
        val nb = math.max(1, spark.sparkContext.defaultParallelism * 4)
        // per-column uniform bucketing, composed into one expression over
        // the fused stream. Degenerate ranges (one distinct value,
        // non-finite bounds) fall back to one bucket — still exact,
        // parallelism just doesn't matter there; NaN (width_bucket → null)
        // sorts above every double, so the top slot keeps the value order
        def bucketFor(c: String): Column = {
          val (_, _, mn, mx) = stats(c)
          if (!java.lang.Double.isFinite(mn) ||
            !java.lang.Double.isFinite(mx) || !(mn < mx)) lit(0L)
          else coalesce(
            width_bucket(col("v"), lit(mn), lit(mx), lit(nb)) - 1L,
            lit(nb + 1L))
        }
        val bucket = live.tail.foldLeft(bucketFor(live.head._1)) {
          case (acc, (c, _)) => when(col("c") === c, bucketFor(c)).otherwise(acc)
        }
        // job 2 (from cache): per (column, bucket) row + cell subtotals →
        // per-column driver prefix offsets (nb+2 longs each)
        val subs = grid.groupBy(col("c"), bucket.as("b"))
          .agg(sum(col("cnt")).as("t"), count(lit(1)).as("cc"))
          .collect()
          .map(r => (r.getString(0), r.getLong(1).toInt) ->
            ((r.getLong(2), r.getLong(3))))
          .toMap
        val offs = live.map { case (c, _) =>
          val a = new Array[Long](nb + 3)
          var acc = 0L
          for (i <- 0 until nb + 2) {
            a(i) = acc; acc += subs.get((c, i)).map(_._1).getOrElse(0L)
          }
          a(nb + 2) = acc
          c -> a
        }.toMap
        // Spark's PercentileBase rank decomposition per probability; rank
        // r lives in the first bucket whose running row total reaches it —
        // only THOSE buckets' grid rows are needed to read the values
        val ranksOf = live.map { case (c, ps) =>
          val n = stats(c)._2
          c -> ps.map { q =>
            val pos = q * (n - 1).toDouble
            (pos, math.floor(pos), math.ceil(pos))
          }
        }.toMap
        val needOf = live.map { case (c, _) =>
          c -> ranksOf(c)
            .flatMap { case (_, lo, hi) => Seq(lo.toLong + 1L, hi.toLong + 1L) }
            .distinct.sorted
        }.toMap
        def bucketOf(c: String, r: Long): Int = {
          val a = offs(c)
          var b = 0
          while (a(b + 1) < r) b += 1
          b
        }
        val needB = live.map { case (c, _) =>
          c -> needOf(c).map(r => bucketOf(c, r).toLong).distinct
        }.toMap
        val needCells = live.flatMap { case (c, _) =>
          needB(c).map(b => subs((c, b.toInt))._2)
        }.sum
        val byRank: Map[(String, Long), Double] =
          if (needCells <= maxCollectCells) {
            // job 3, common case (from cache): collect just the needed
            // buckets — ~cells/nb grid rows each on value-spread data —
            // and read the ranks off a driver-local cumulative walk. No
            // window, no extra exchange; the heavy work stayed in the
            // parallel scan + count-by-value aggregation.
            val pred = live.map { case (c, _) =>
              col("c") === c && col("b").isin(needB(c).map(Long.box): _*)
            }.reduce(_ || _)
            val got = grid.withColumn("b", bucket).where(pred)
              .select(col("c"), col("b"), col("v"), col("cnt")).collect()
              .groupBy(r => (r.getString(0), r.getLong(1)))
            live.flatMap { case (c, _) =>
              needOf(c).map { r =>
                val b = bucketOf(c, r).toLong
                val sorted = got((c, b)).sortBy(_.getDouble(2))(
                  Ordering.Double.TotalOrdering) // Double.compare: NaN last
                var cum = offs(c)(b.toInt)
                var i = 0
                while (cum + sorted(i).getLong(3) < r) {
                  cum += sorted(i).getLong(3); i += 1
                }
                (c, r) -> sorted(i).getDouble(2)
              }
            }.toMap
          } else {
            // fallback for value-concentrated grids (a needed bucket holds
            // millions of DISTINCT values): bucket-local running sum +
            // broadcast prefix offset = global cum, one conditional min per
            // needed (column, rank) — fully parallel across buckets
            val wLoc = Window.partitionBy(col("c"), col("b")).orderBy(col("v"))
              .rowsBetween(Window.unboundedPreceding, Window.currentRow)
            val offset = live.tail.foldLeft(
              element_at(array(offs(live.head._1).take(nb + 2).map(lit(_)): _*),
                (col("b") + 1L).cast("int"))) { case (acc, (c, _)) =>
              when(col("c") === c,
                element_at(array(offs(c).take(nb + 2).map(lit(_)): _*),
                  (col("b") + 1L).cast("int"))).otherwise(acc)
            }
            val withCum = grid.withColumn("b", bucket)
              .select(col("c"), col("v"), col("b"), col("cnt"))
              .withColumn("cum", sum(col("cnt")).over(wLoc) + offset)
            val aggs = live.zipWithIndex.flatMap { case ((c, _), ci) =>
              needOf(c).map(r => min(when(col("c") === c && col("cum") >= r,
                col("v"))).as(s"r${ci}_$r"))
            }
            val row = withCum.agg(aggs.head, aggs.tail: _*).head()
            live.flatMap { case (c, _) => needOf(c).map(r => (c, r)) }
              .zipWithIndex.map { case (k, i) => k -> row.getDouble(i) }.toMap
          }
        names.map { c =>
          c -> (if (!stats.contains(c)) None
          else Some(ranksOf(c).map { case (pos, lo, hi) =>
            val vl = byRank((c, lo.toLong + 1L))
            if (lo == hi) vl
            else (hi - pos) * vl + (pos - lo) * byRank((c, hi.toLong + 1L))
          }))
        }.toMap
      }
    } finally grid.unpersist(false)
  }

  /** Grouped approx twin of [[exactBy]] — the 100 TB default. */
  def approxBy(
      df: DataFrame,
      keyCol: String,
      pcts: Seq[(String, Seq[Double])],
      accuracy: Int = 10000): DataFrame = {
    val aggs = pcts.map { case (c, ps) =>
      expr(s"approx_percentile($c, array(${ps.map(p => s"${p}D").mkString(", ")}), $accuracy)")
        .as(s"${c}_pcts")
    }
    df.groupBy(col(keyCol)).agg(aggs.head, aggs.tail: _*)
  }
}
