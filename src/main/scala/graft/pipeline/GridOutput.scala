package graft.pipeline

import scala.collection.mutable.ArrayBuffer
import org.apache.spark.sql.{Column, DataFrame, SortedSweep, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{GenericInternalRow, JoinedRow}
import org.apache.spark.sql.expressions.{Window, WindowSpec}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.NumericType
import graft.core.{CacheScope, Optimize}

/** The gridded-output half of the pipeline (SURVEY.md §2.9 entry points 2-3):
  * profile/depth axes, shear gridding + vertical integration, DAC
  * referencing, full grid_data breadth, scalar bias solve, verification
  * diagnostics, final tall dataset (grid_shear_data / reference_shear /
  * grid_data / calc_bias / verify_depth_bias / make_dataset,
  * process_adcp.py:1600-2043).
  *
  * The output grid is the tall relation (missionCols..., xbin, ybin,
  * columns...) — the scalable form; the reference's dense 2-D matrices exist
  * only inside the driver-side bias solve, where the grid is
  * O(profiles x depth-bins) small by construction. All grid keys carry the
  * caller's mission columns so concurrent missions shuffle independently
  * and never share a window partition.
  */
object GridOutput {

  /** Axes (grid_shear_data, :1648-1656): yaxis = arange(0, ceil(max
    * pressure), yRes); xaxis = sorted unique profile numbers, held as a
    * broadcastable dim-frame (`dim`: missionCols, profile_number, xbin)
    * rather than a driver-side list — O(1) driver memory and plan size at
    * fleet scale.
    *
    * pd.cut semantics with the xaxis itself as edges mean profile
    * xaxis[k] lands in column k-1 and the first profile is dropped —
    * xbin = dense_rank(profile) - 2 per mission, null for the first.
    * [[axes]] persists `dim` in its `scope`.
    */
  final case class Axes(yMax: Double, yRes: Double, missionCols: Seq[String],
      dim: DataFrame, nProfiles: Long) {
    def nY: Int = math.ceil(yMax).toInt
    /** Dense-grid column count — single-mission only: with mission columns
      * nProfiles counts (mission, profile) pairs globally and the first
      * profile is dropped PER MISSION, so a global nX would overstate every
      * mission; derive per-mission counts from `dim` instead.
      */
    def nX: Long = {
      require(missionCols.isEmpty,
        "nX is single-mission; group dim by missionCols for per-mission counts")
      nProfiles - 1 // column k-1 per profile, first dropped
    }
    /** Per-mission dense-grid column counts (missionCols..., n_x). */
    def nXByMission: DataFrame =
      dim.where(col("xbin").isNotNull)
        .groupBy(missionCols.map(col): _*)
        .agg((max("xbin") + 1).as("n_x"))
    /** Unpersists the cached dim frame alone; releasing the scope `axes`
      * tracked it in frees it too.
      */
    def release(): Unit = { dim.unpersist(); () }
    /** Full grid key. */
    def key: Seq[String] = missionCols ++ Seq("xbin", "ybin")
    /** Per-profile-column key (one dense-grid column). */
    def xKey: Seq[String] = missionCols :+ "xbin"
    def wCol: WindowSpec = Window.partitionBy(xKey.map(col): _*)
    /** Per-depth-row key (one dense-grid row). */
    def wRow: WindowSpec =
      Window.partitionBy((missionCols :+ "ybin").map(col): _*)
  }

  def axes(glider: DataFrame, opts: Options,
      missionCols: Seq[String] = Nil,
      scope: CacheScope = CacheScope.session): Axes = {
    val yMax = glider.agg(max(ceil(col("pressure"))).cast("double"))
      .first().getDouble(0)
    val wM =
      if (missionCols.isEmpty) Window.partitionBy(lit(1))
      else Window.partitionBy(missionCols.map(col): _*)
    val dim = scope.persist(glider
      .select((missionCols :+ "profile_number").map(col): _*)
      .distinct()
      .withColumn("xbin",
        (dense_rank().over(wM.orderBy("profile_number")) - 2).cast("long"))
      .withColumn("xbin", when(col("xbin") >= 0, col("xbin"))))
    Axes(yMax, opts.yRes, missionCols, dim, dim.count())
  }

  /** pd.cut(profile_number, xaxis) for values that are exactly the profile
    * numbers (they are: the xaxis IS the distinct profile set), as a
    * broadcast dim-join — first profile maps to null, unknown values drop
    * out downstream, and the plan carries no O(profiles) literal.
    */
  def withXbin(df: DataFrame, axes: Axes): DataFrame =
    df.join(broadcast(axes.dim), axes.missionCols :+ "profile_number", "left")

  /** Right-closed pressure bin (uniform yaxis, pd.cut parity). */
  def depthBin(axes: Axes, y: Column): Column =
    graft.core.Bins.cutRight(y, 0.0, axes.yRes, axes.nY - 1)

  /** Grid many columns of one table in a single shuffle: one groupBy over
    * (missionCols, xbin, ybin) with one agg per (srcCol -> outName). Cells
    * exist wherever ANY input row lands (value aggs null-skip per column,
    * like the reference's per-variable nan-aware grid2d over the same dense
    * axes). `fn` defaults to mean — grid_data/_grid_glider_data use 'mean'
    * everywhere (process_adcp.py:1807-1849).
    */
  def gridVars(df: DataFrame, axes: Axes, yCol: String,
      vars: Seq[(String, String)],
      fn: Column => Column = avg): DataFrame = {
    val keyed = withXbin(df, axes)
      .withColumn("ybin", depthBin(axes, col(yCol)))
      .where(col("xbin").isNotNull && col("ybin").isNotNull)
    val aggs = vars.map { case (src, out) => fn(col(src)).as(out) }
    keyed.groupBy(axes.key.map(col): _*).agg(aggs.head, aggs.tail: _*)
  }

  /** Grid exploded per-bin ADCP array variables (Sh_*), one posexplode +
    * one shuffle for all of them (grid_data, :1822-1830).
    */
  def gridAdcp2d(adcp: DataFrame, axes: Axes,
      vars: Seq[(String, String)]): DataFrame = {
    val zipped = arrays_zip(col("bin_depth") +: vars.map(v => col(v._1)): _*)
    val keyCols = (axes.missionCols :+ "profile_number").map(col)
    val exploded = adcp
      .select(keyCols :+ posexplode(zipped).as(Seq("__i", "__c")): _*)
      .select(keyCols :+ col("__c.*"): _*)
    gridVars(exploded, axes, "bin_depth", vars)
  }

  /** Glider columns excluded from gridding — the engine-schema counterpart
    * of the reference's exclude_from_grid list (process_adcp.py:1799-1804):
    * navigation/QC plumbing plus non-measurement internals. time_ns is the
    * long time key (the reference excludes 'time'); declination /
    * dead_reckoning / NAV_RESOURCE appear verbatim in the reference list.
    */
  val gliderExcludeFromGrid: Set[String] = Set(
    "time_ns", "time", "declination", "dead_reckoning", "nav_resource")

  /** grid_data + _grid_glider_data (process_adcp.py:1797-1856): the three
    * Sh grids from the exploded ADCP bins, the ADCP 1-D attitude grids by
    * (profile, ADCP pressure), and EVERY remaining numeric glider column by
    * (profile, glider pressure) — all in three shuffles + two broadcast-key
    * joins. Per-column failure tolerance becomes a type gate: non-numeric
    * columns are skipped exactly like the reference's try/except.
    *
    * Naming: the reference keeps ADCP-sourced 'Pressure' and glider
    * 'pressure' as distinct dict keys; Spark SQL resolves column names
    * case-insensitively, so the ADCP one ships as `pressure_adcp`. The
    * reference's ADCP-sourced latitude/longitude/profile_number grids are
    * overwritten by the glider versions at the dict level (:1838-1848 then
    * :1807-1817) and are therefore never computed here.
    */
  def gridData(adcp: DataFrame, glider: DataFrame, axes: Axes): DataFrame = {
    val sh = gridAdcp2d(adcp, axes,
      Seq("sh_e" -> "Sh_E", "sh_n" -> "Sh_N", "sh_u" -> "Sh_U"))
    val att = gridVars(adcp, axes, "pressure", Seq(
      "heading" -> "Heading", "pitch" -> "Pitch", "roll" -> "Roll",
      "pressure" -> "pressure_adcp"))
    val gliderVars = glider.schema.fields
      .filter(_.dataType.isInstanceOf[NumericType])
      .map(_.name)
      .filterNot(gliderExcludeFromGrid.contains)
      .filterNot(axes.missionCols.contains)
      .toSeq
    val gl = gridVars(glider, axes, "pressure", gliderVars.map(v => v -> v))
    sh.join(att, axes.key, "full").join(gl, axes.key, "full")
  }

  /** reference_shear (process_adcp.py:1658-1760) on the combined tall grid:
    * per-column vertical integration of gridded shear (nancumsum * yRes,
    * nulls restored), baroclinic de-mean, residence-time weights
    * SpB = yRes/dPdz clipped at one per-mission std (the clip assigns +std
    * regardless of sign, :1705-1708 — reference behavior, not symmetric),
    * reference = colMean(DAC) - nansum(V*SpB)/nansum(SpB), added back.
    * Produces ADCP_E / ADCP_N, and calc_bias's `__bias_e` / `__bias_n`
    * from the gridded `speed_e` / `speed_n` ([[calcBias]] uses them).
    *
    * The SpB sums run over every cell of the combined grid where the glider
    * gridded (exactly the reference's dense-grid nansum domain, :1713 —
    * including cells with no finite shear). The std is one small
    * aggregate; everything else is one sweep per profile column
    * ([[ProfileSweep]]). A column whose SpB sums to exactly 0 gets null
    * velocities (the reference divides by that zero).
    */
  def referenceShear(grid0: DataFrame, axes: Axes, yRes: Double,
      letters: Seq[String] = Seq("e", "n")): DataFrame = {
    val spb0 = when(col("speed_vert").isNull, lit(null).cast("double"))
      .when(col("speed_vert") === 0.0, lit(0.0))
      .otherwise(lit(yRes) / col("speed_vert"))
    val based = grid0.withColumn("__spb0", spb0)
    // one std per mission (a global scalar in the single-mission reference)
    val stdDf = (if (axes.missionCols.isEmpty) based.groupBy()
                 else based.groupBy(axes.missionCols.map(col): _*))
      .agg(stddev_pop(col("__spb0")).as("__spb_std"))
    val joined =
      if (axes.missionCols.isEmpty) based.crossJoin(broadcast(stdDf))
      else based.join(broadcast(stdDf), axes.missionCols)
    val clipped = joined.withColumn("__spb",
      when(abs(col("__spb0")) > col("__spb_std"), col("__spb_std"))
        .otherwise(col("__spb0")))
    profileSweep(clipped, grid0.columns.toSeq, axes, yRes, letters)
  }

  /** The per-profile-column pass of [[referenceShear]] and [[calcBias]]:
    * `df` clustered by (missionCols, xbin) and sorted by ybin, one column
    * at a time, keeping the `keep` columns. Adds ADCP_L for each of
    * `letters` (read from Sh_L, dac_l and `__spb`), then the bias columns
    * (read from speed_e, speed_n).
    */
  private def profileSweep(df: DataFrame, keep: Seq[String], axes: Axes,
      yRes: Double, letters: Seq[String]): DataFrame = {
    val reads = Seq(col("speed_e"), col("speed_n")) ++ letters.flatMap(l =>
      Seq(col(s"Sh_${l.toUpperCase}"), col(s"dac_$l"), col("__spb")))
    val names = reads.indices.map(i => s"__ps_$i")
    val in = df.select(keep.map(col) ++
      reads.zip(names).map { case (c, n) => c.cast("double").as(n) }: _*)
    SortedSweep(in, keys = axes.xKey, order = Seq("ybin" -> true), reads = names,
      keep = keep, added = letters.map(l => s"ADCP_${l.toUpperCase}") ++
        Seq("__bias_e", "__bias_n"))(
      (ords, sameKey) => rows => new ProfileSweep(rows, ords, sameKey,
        letters.size, yRes))
  }

  /** One profile column at a time (at most nY rows), in ybin order. Per
    * shear letter: V = nancumsum(Sh) * yRes (null where Sh is), less its
    * column mean, plus the reference mean(DAC) - sum(V*SpB)/sum(SpB)
    * (null-skipping means and sums). Per bias letter (E, N): the
    * nancumsum of the finite speeds (null where the speed is not finite),
    * less its column mean. Reads the two speeds, then Sh, DAC and SpB per
    * shear letter.
    */
  private final class ProfileSweep(rows: Iterator[InternalRow], ords: Seq[Int],
      sameKey: (InternalRow, InternalRow) => Boolean, nShear: Int,
      yRes: Double) extends Iterator[InternalRow] {
    private val column = new ArrayBuffer[InternalRow]()
    private val out = new java.util.ArrayDeque[InternalRow]()

    /** Null-skipping running state of Spark's `sum` and `avg`. */
    private final class Acc {
      var sum = 0.0; var n = 0L
      def add(v: Double): Unit = { sum += v; n += 1 }
      def mean: Option[Double] = if (n == 0) None else Some(sum / n)
      def total: Option[Double] = if (n == 0) None else Some(sum)
    }

    private def opt(r: InternalRow, o: Int): Option[Double] =
      if (r.isNullAt(o)) None else Some(r.getDouble(o))

    private def referenced(shOrd: Int, dacOrd: Int, spbOrd: Int): Array[Any] = {
      var cum = 0.0
      val vi = column.map { r =>
        cum += (if (r.isNullAt(shOrd)) 0.0 else r.getDouble(shOrd))
        if (r.isNullAt(shOrd)) None else Some(cum * yRes)
      }
      val viMean = new Acc; vi.foreach(_.foreach(viMean.add))
      val vr = vi.map(v => for (a <- v; m <- viMean.mean) yield a - m)
      val dac = new Acc; val vs = new Acc; val spb = new Acc
      column.indices.foreach { i =>
        opt(column(i), dacOrd).foreach(dac.add)
        val w = opt(column(i), spbOrd)
        w.foreach(spb.add)
        for (v <- vr(i); s <- w) vs.add(v * s)
      }
      val ref = for (d <- dac.mean; a <- vs.total; b <- spb.total if b != 0.0)
        yield d - a / b
      vr.map(v => (for (a <- v; r <- ref) yield a + r).getOrElse(null)).toArray
    }

    private def bias(speedOrd: Int): Array[Any] = {
      var cum = 0.0
      val raw = column.map { r =>
        val v = opt(r, speedOrd).filterNot(_.isNaN)
        cum += v.getOrElse(0.0)
        v.map(_ => cum)
      }
      val mean = new Acc; raw.foreach(_.foreach(mean.add))
      val m = mean.mean.getOrElse(0.0)
      raw.map(_.map(_ - m).getOrElse(null)).toArray
    }

    private def flush(): Unit = {
      val cols = (0 until nShear).map(l =>
        referenced(ords(2 + 3 * l), ords(3 + 3 * l), ords(4 + 3 * l))) ++
        ords.take(2).map(bias)
      column.indices.foreach { i =>
        out.add(new JoinedRow(column(i), new GenericInternalRow(cols.map(_(i)).toArray)))
      }
      column.clear()
    }

    override def hasNext: Boolean = {
      while (out.isEmpty && rows.hasNext) {
        val row = rows.next()
        if (column.nonEmpty && !sameKey(column.head, row)) flush()
        column += row.copy()
      }
      if (out.isEmpty && column.nonEmpty) flush()
      !out.isEmpty
    }

    override def next(): InternalRow =
      if (hasNext) out.poll() else throw new NoSuchElementException
  }

  private def finiteCol(c: Column): Column = c.isNotNull && !isnan(c)

  /** Per-mission bias coefficients (missionCols..., __coeff), solved from
    * sufficient statistics: the fmin objective is the rmsd-of-row-rmsds of
    * `v + bias * coeff` (:1962-1966), and for a fixed finite-cell set
    * `sum((v + b*c)^2) = A + 2cB + c^2*C` with A = sum v^2, B = sum v*b,
    * C = sum b^2 — so one groupBy reduces the grid to O(missions x nY)
    * stat rows and the Nelder-Mead iterations run on those alone. Driver
    * memory is O(missions x nY); the full grid is never collected. Each
    * mission gets its own coefficient (the reference is single-mission, so
    * per-mission sharding is the faithful fleet generalization of its one
    * global solve).
    */
  def biasCoefficients(withBias: DataFrame, axes: Axes,
      spark: SparkSession): DataFrame = {
    def stats(l: String) = {
      val base = col("ADCP_" + l.toUpperCase)
      val b = col(s"__bias_$l")
      val fin = finiteCol(base) && finiteCol(b)
      Seq(sum(when(fin, base * base)).as(s"a_$l"),
        sum(when(fin, base * b)).as(s"b_$l"),
        sum(when(fin, b * b)).as(s"c_$l"),
        count(when(fin, 1)).as(s"n_$l"))
    }
    val aggs = stats("e") ++ stats("n")
    val rowStats = withBias
      .groupBy((axes.missionCols :+ "ybin").map(col): _*)
      .agg(aggs.head, aggs.tail: _*)
      .collect()
    final case class S(aE: Double, bE: Double, cE: Double, nE: Long,
        aN: Double, bN: Double, cN: Double, nN: Long)
    def num(r: org.apache.spark.sql.Row, name: String): Double = {
      val i = r.fieldIndex(name)
      if (r.isNullAt(i)) 0.0 else r.getDouble(i)
    }
    def solveOne(rows: Array[org.apache.spark.sql.Row]): Double = {
      val rs = rows.map(r => S(
        num(r, "a_e"), num(r, "b_e"), num(r, "c_e"), r.getAs[Long]("n_e"),
        num(r, "a_n"), num(r, "b_n"), num(r, "c_n"), r.getAs[Long]("n_n")))
      def score(c: Double): Double = {
        def rmsd(a: Double, b: Double, cc: Double, n: Long): Double =
          if (n == 0) Double.NaN
          else math.sqrt(math.max(0.0, (a + 2 * c * b + c * c * cc) / n))
        val rows2 = rs.flatMap { s =>
          val v = rmsd(s.aE, s.bE, s.cE, s.nE) + rmsd(s.aN, s.bN, s.cN, s.nN)
          if (v.isNaN) None else Some(v * v)
        }
        if (rows2.isEmpty) 0.0
        else math.sqrt(rows2.sum / rows2.length) * 1e6
      }
      Optimize.nelderMead(x => score(x(0)), Array(1.0),
        fatol = 1e-5, maxIter = 100).x(0)
    }
    val byMission = {
      val grouped = rowStats.groupBy(r =>
        axes.missionCols.map(c => r.getAs[Any](c)))
      if (grouped.isEmpty && axes.missionCols.isEmpty)
        Map(Seq.empty[Any] -> Array.empty[org.apache.spark.sql.Row])
      else grouped
    }
    import scala.jdk.CollectionConverters._
    val schema = org.apache.spark.sql.types.StructType(
      axes.missionCols.map(c => withBias.schema(c)) :+
        org.apache.spark.sql.types.StructField("__coeff",
          org.apache.spark.sql.types.DoubleType))
    val coeffRows = byMission.toSeq
      .sortBy(_._1.map(String.valueOf).mkString("\u0001"))
      .map { case (k, rs) => org.apache.spark.sql.Row.fromSeq(k :+ solveOne(rs)) }
    spark.createDataFrame(coeffRows.asJava, schema)
  }

  /** Scalar bias solve (calc_bias, :1954-1984): nancumsum of the gridded
    * glider speed per column, de-meaned, scaled by the coefficient
    * minimizing the combined E/N RMSD score (fmin parity: maxiter=100,
    * ftol=1e-5) and added to the referenced velocities. Bias columns and
    * the objective's sufficient statistics are computed distributed (the
    * bias columns [[referenceShear]] added, else the same per-column
    * sweep; [[biasCoefficients]]); the solve runs per mission
    * with O(missions x nY) driver memory — no full-grid collect, no
    * synthetic string mission key (grouping and the broadcast re-join use
    * the actual mission columns).
    */
  def calcBias(out: DataFrame, axes: Axes, spark: SparkSession): DataFrame = {
    val withBias =
      if (Seq("__bias_e", "__bias_n").forall(out.columns.contains)) out
      else profileSweep(out, out.columns.toSeq, axes, axes.yRes, Nil)
    val coeffs = biasCoefficients(withBias, axes, spark)
    // null-safe (<=>) join: a null mission key forms its own group in the
    // coefficient solve, so the re-join must match it too — a plain equality
    // join would drop it and silently fall through to the default
    val joined =
      if (axes.missionCols.isEmpty) withBias.crossJoin(broadcast(coeffs))
      else {
        val renamed = axes.missionCols.foldLeft(coeffs)(
          (d, c) => d.withColumnRenamed(c, s"__mc_$c"))
        val cond = axes.missionCols
          .map(c => withBias(c) <=> renamed(s"__mc_$c")).reduce(_ && _)
        withBias.join(broadcast(renamed), cond, "left")
          .drop(axes.missionCols.map(c => s"__mc_$c"): _*)
      }
    // a join miss (impossible key) must not bias at all: default coeff 0.0,
    // never 1.0 (which would inject the unscaled bias column)
    def applied(l: String): Column =
      col("ADCP_" + l.toUpperCase) +
        coalesce(col(s"__bias_$l"), lit(0.0)) * coalesce(col("__coeff"), lit(0.0))
    joined
      .withColumn("ADCP_E", applied("e"))
      .withColumn("ADCP_N", applied("n"))
      .drop("__bias_e", "__bias_n", "__coeff")
  }

  /** verify_depth_bias computational core (process_adcp.py:1859-1950):
    * travel direction from the across-profile latitude gradient (np.gradient
    * axis=1 on the dense grid: centered with one-sided dense-grid edges,
    * null where a dense neighbor is an empty cell), 20 depth slabs over
    * [0, max(yaxis)-5], and per-(variable, slab, direction) value histograms
    * (99 left-closed bins over [-0.5, 0.5], density-normalized like
    * np.histogram(density=True)). `MAG` is sqrt(E^2+N^2) (:1921-1922).
    * Returns the tall histogram relation; moments come from
    * [[verifyDepthBiasMoments]]. Plot rendering stays out of scope.
    */
  private val histLo = -0.5
  private val histN = 99
  private val histStep = 1.0 / histN

  private def slabFrame(axes: Axes, spark: SparkSession): (DataFrame, Double) = {
    val depths = (0 until 20).map(i => (axes.yMax - 5.0) * i / 19.0)
    val drange = (depths(1) - depths(0)) / 2.0
    import spark.implicits._
    (depths.zipWithIndex.map { case (d, i) => (i, d) }.toDF("slab", "slab_depth"),
      drange)
  }

  private def directedCells(out: DataFrame, axes: Axes,
      vars: Seq[String]): DataFrame = {
    // dense-grid np.gradient(axis=1): the across-profile neighbor must be
    // the ADJACENT dense column; a gap means the dense neighbor is NaN.
    val wRow = axes.wRow.orderBy("xbin")
    val nxDf = axes.dim.groupBy(axes.missionCols.map(col): _*)
      .agg(max("xbin").as("__x_last"))
    val withNx =
      if (axes.missionCols.isEmpty) out.crossJoin(broadcast(nxDf))
      else out.join(broadcast(nxDf), axes.missionCols)
    val lat = col("latitude")
    val xp = lag("xbin", 1).over(wRow); val xn = lead("xbin", 1).over(wRow)
    val lp = lag(lat, 1).over(wRow); val ln = lead(lat, 1).over(wRow)
    val prevOk = xp === col("xbin") - 1
    val nextOk = xn === col("xbin") + 1
    val grad =
      when(col("xbin") === 0, when(nextOk, ln - lat))
        .when(col("xbin") === col("__x_last"), when(prevOk, lat - lp))
        .otherwise(when(prevOk && nextOk, (ln - lp) / 2.0))
    val dir = when(grad > 0, "N").when(grad < 0, "S")
    val magCol = sqrt(pow(col("ADCP_E"), 2) + pow(col("ADCP_N"), 2))
    val varVal = vars.map(v =>
      struct(lit(v).as("var"),
        (if (v == "MAG") magCol else col(v)).as("v")))
    withNx
      .withColumn("__dir", dir)
      .where(col("__dir").isNotNull)
      .select((axes.key.map(col) :+ col("__dir") :+ col("pressure_adcp")) :+
        explode(array(varVal: _*)).as("__vv"): _*)
      .select(axes.key.map(col) :+ col("__dir") :+ col("pressure_adcp") :+
        col("__vv.var").as("var") :+ col("__vv.v").as("v"): _*)
  }

  private def slabbed(cells: DataFrame, axes: Axes,
      spark: SparkSession): DataFrame = {
    val (slabs, drange) = slabFrame(axes, spark)
    cells.crossJoin(broadcast(slabs))
      .where(abs(col("pressure_adcp") - col("slab_depth")) < drange)
  }

  def verifyDepthBias(out: DataFrame, axes: Axes, spark: SparkSession,
      vars: Seq[String] = Seq("ADCP_E", "ADCP_N", "MAG")): DataFrame = {
    val cells = slabbed(directedCells(out, axes, vars), axes, spark)
      .withColumn("bin", graft.core.Bins.cutLeftHist(col("v"), histLo, histStep, histN))
      .where(col("bin").isNotNull)
    val grp = axes.missionCols ++ Seq("var", "slab", "__dir")
    val wGrp = Window.partitionBy(grp.map(col): _*)
    cells
      .groupBy((grp :+ "bin").map(col): _*)
      .agg(count(lit(1)).as("n"))
      .withColumn("density",
        col("n") / (sum(col("n")).over(wGrp) * histStep))
      .withColumnRenamed("__dir", "direction")
  }

  /** Per-(variable, slab, direction) moments of verify_depth_bias: nan-mean,
    * nan-std (population), finite count, standard error (:1889-1896).
    */
  def verifyDepthBiasMoments(out: DataFrame, axes: Axes, spark: SparkSession,
      vars: Seq[String] = Seq("ADCP_E", "ADCP_N", "MAG")): DataFrame = {
    val grp = axes.missionCols ++ Seq("var", "slab", "__dir")
    slabbed(directedCells(out, axes, vars), axes, spark)
      .groupBy(grp.map(col): _*)
      .agg(avg("v").as("mean"), stddev_pop("v").as("std"),
        count("v").as("n"))
      .withColumn("se", col("std") / sqrt(col("n")))
      .withColumnRenamed("__dir", "direction")
  }

  /** verify_calcENUfromXYZ computational core (process_adcp.py:1289-1316
    * — the dz/dt-vs-U comparison; the :1272-1287 first-figure histograms
    * are matplotlib over the same masks and the :1317-1327 pcolor is a
    * plot sink): restrict to `Pressure > 10` (:1289), per-ping
    * U = nan-mean of the `u` array over gridded_bin (:1297), dP =
    * np.gradient(Depth, time seconds) along the FILTERED per-mission ping
    * sequence (:1298) — the post-gate time axis has gaps, so
    * [[graft.core.Windows.gradient]] implements numpy's NON-uniform
    * second-order interior weights, not the centered first-order form —
    * d = dP - U; regimes dive (`Pitch < 0 & Depth >
    * 20`) and climb (`Pitch > 0 & Depth > 20`) (:1292-1293). Output: one
    * row per (mission, regime, bin) — the 99-bin left-closed histogram of
    * d over [-0.02, 0.02) (the reference's `bins / 10`,
    * linspace(-1,1,100)*0.2/10, :1300,1310-1311) with the per-regime
    * finite count and nan-mean (the :1313-1314 axvline values) attached.
    *
    * Plan: one elementwise projection (array mean, regime mask), one
    * window gradient per mission, one hash aggregate onto O(regimes x
    * bins) rows plus a broadcast-joined per-regime stats aggregate —
    * nothing scales with ping count past the shuffle. `timeCol` must be
    * unique within a mission (it orders the gradient window).
    */
  def verifyEnu(adcp: DataFrame, missionCols: Seq[String] = Nil,
      timeUsCol: String = "time_us", pitchCol: String = "pitch",
      depthCol: String = "depth", pressureCol: String = "pressure",
      uCol: String = "u"): DataFrame = {
    val lo = -0.02; val n = 99; val step = 0.04 / n
    val w = Window.partitionBy(missionCols.map(col): _*)
      .orderBy(col(timeUsCol))
    val g = adcp.where(col(pressureCol) > 10.0)
      .withColumn("__u", ArrayOps.arrayMean(col(uCol)))
      .withColumn("__dp", graft.core.Windows.gradient(col(depthCol),
        col(timeUsCol).cast("double") / 1e6, w))
      .withColumn("__d", col("__dp") - col("__u"))
      .withColumn("regime",
        when(col(pitchCol) < 0 && col(depthCol) > 20.0, "dive")
          .when(col(pitchCol) > 0 && col(depthCol) > 20.0, "climb"))
      .where(col("regime").isNotNull)
    val grp = missionCols :+ "regime"
    val hist = g
      .withColumn("bin", graft.core.Bins.cutLeftHist(col("__d"), lo, step, n))
      .where(col("bin").isNotNull)
      .groupBy((grp :+ "bin").map(col): _*)
      .agg(count(lit(1)).as("n"))
    // nan-mean over ALL regime rows (avg/count skip nulls), not just the
    // in-histogram ones — np.nanmean parity (:1313-1314). `sum_d_nano`
    // rides along as the ORDER-INDEPENDENT form of the same statistic:
    // each row integerizes to nano-units first (one identical IEEE
    // mul+add+floor chain per row), so the per-regime sum is an exact
    // integer no summation order can perturb — the integerize-before-sum
    // discipline the oracle-gated mean consumes (mean_d's double avg is
    // kept for np.nanmean fidelity, but its last ulp depends on
    // partial-aggregation order)
    val stats = g.groupBy(grp.map(col): _*)
      .agg(avg(col("__d")).as("mean_d"), count(col("__d")).as("n_regime"),
        sum(floor(col("__d") * lit(1e9) + lit(0.5)).cast("long"))
          .as("sum_d_nano"))
    hist.join(broadcast(stats), grp)
      .select((grp ++ Seq("bin", "n", "n_regime", "mean_d", "sum_d_nano"))
        .map(col): _*)
  }

  /** calc_bias verification core (:1985-1995): per-depth-row nan-variance of
    * ADCP_E, ADCP_N and the velocity magnitude across profiles.
    */
  def verifyCalcBias(out: DataFrame, axes: Axes): DataFrame =
    out.groupBy((axes.missionCols :+ "ybin").map(col): _*)
      .agg(var_pop("ADCP_E").as("var_e"), var_pop("ADCP_N").as("var_n"),
        var_pop(sqrt(pow(col("ADCP_E"), 2) + pow(col("ADCP_N"), 2))).as("var_mag"))

  /** CSV export of the tall gridded output. Distributed partitioned write
    * by default; `singleFile = true` coalesces to one part for grids small
    * enough to fit a single task (the old always-coalesce behavior made
    * every export single-task regardless of size).
    */
  def exportCsv(ds: DataFrame, path: String, singleFile: Boolean = false): Unit =
    (if (singleFile) ds.coalesce(1) else ds)
      .write.mode("overwrite").option("header", "true").csv(path)

  /** Per-variable CSV export matching the reference notebook's
    * exportCSVfiles (ProcessADCPSeaExplorer.ipynb cell 103), which writes
    * one `<key>.csv` dense matrix per gridded variable (np.savetxt: rows =
    * depth bins, one column per profile). Each variable becomes the
    * directory `path/<var>/` holding a ybin-keyed wide CSV: a `ybin`
    * column, then one column per xbin in ascending order. Rows are
    * range-partitioned and sorted by ybin so the part files concatenate in
    * depth order; `singleFile = true` instead globally sorts and writes
    * one part — the notebook's exact one-file-per-variable layout, for
    * grids that fit a task. Mission columns, when present, become
    * partitionBy subdirectories so every mission gets its own matrix tree.
    *
    * The collected xbin domain is O(profiles) driver rows — the matrix has
    * that many columns by construction, so any grid too wide for that
    * collect could not be written as a matrix CSV at all.
    */
  def exportCsvPerVariable(out: DataFrame, axes: Axes, path: String,
      variables: Seq[String] = Nil, singleFile: Boolean = false): Unit = {
    val vars = if (variables.nonEmpty) variables
      else out.columns.filterNot(axes.key.contains).toSeq
    val xbins: Seq[Any] = out.select("xbin").where(col("xbin").isNotNull)
      .distinct().orderBy("xbin").collect().map(_.get(0)).toSeq
    vars.foreach { v =>
      val wide = out
        .groupBy((axes.missionCols :+ "ybin").map(col): _*)
        .pivot("xbin", xbins)
        .agg(first(col(v)))
      val sorted =
        if (singleFile) wide.orderBy("ybin").coalesce(1)
        else wide.repartitionByRange(col("ybin")).sortWithinPartitions("ybin")
      val writer = sorted.write.mode("overwrite").option("header", "true")
      (if (axes.missionCols.nonEmpty) writer.partitionBy(axes.missionCols: _*)
       else writer).csv(s"$path/$v")
    }
  }

  /** Final dataset (make_dataset, :2029-2043): the tall grid plus
    * per-profile mean datetime — ds.date_float.mean(dim='depth_bin'), the
    * mean of the GRIDDED per-cell date_float means (:2042), as a window
    * over the profile column (no extra join or shuffle beyond the exchange
    * the referencing windows already established).
    *
    * `dense = true` materializes the reference's full depth_bin x profile
    * matrix shape — every (mission, xbin, ybin in [0, nY)) cell including
    * all-null rows and columns (the reference scatters into a
    * NaN-initialized len(yaxis) x len(xaxis) array, process_adcp.py:125-131,
    * and make_dataset keeps that dense shape, :2029-2043). The cell domain
    * is the per-mission xbin dim-frame crossed with the broadcast ybin
    * range; the sparse grid left-joins onto it (null-safe on mission keys),
    * so a user diffing against reference netCDF sees the same shape.
    * Sparse tall output stays the default — it is the scalable form.
    */
  def makeDataset(out: DataFrame, axes: Axes,
      dense: Boolean = false): DataFrame = {
    val filled = if (!dense) out else {
      val yDom = out.sparkSession.range(axes.nY.toLong)
        .select(col("id").as("ybin"))
      val xDom = axes.dim.where(col("xbin").isNotNull)
        .select((axes.missionCols :+ "xbin").map(col): _*)
      val domain = xDom.crossJoin(broadcast(yDom))
      val cond = (axes.missionCols.map(c => domain(c) <=> out(c)) ++
        Seq("xbin", "ybin").map(c => domain(c) === out(c))).reduce(_ && _)
      val others = out.columns.filterNot(axes.key.contains).toSeq
      domain.join(out, cond, "left")
        .select(axes.key.map(domain(_)) ++ others.map(out(_)): _*)
    }
    filled.withColumn("profile_datetime_ns",
      avg(col("date_float")).over(axes.wCol))
  }
}
