package graft.ext

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.queries.Q

/** Spatial operators over planar point sets: exact distance-threshold
  * joins and density clustering, both via grid bucketing — the
  * anti-quadratic contract of the dedup/similarity families applied to
  * geometry (the reference pipeline has no spatial surface; this is the
  * engine-superset family a location-bearing event log needs).
  *
  * Coordinates are PLANAR METERS. Callers with lat/lon project first
  * ([[projectLatLon]] — the small-extent equirectangular approximation;
  * multiplication only, so the projected values are bit-identical in any
  * IEEE-754 engine, which keeps the oracle contract trig-free). All grid
  * arithmetic is floor-of-division on doubles: correctly-rounded ops,
  * identical across engines — cell membership can never disagree.
  *
  * 100 TB shape: every operator is an equi-join on grid-cell keys with a
  * bounded 3x3 neighbor probe — candidates are O(n * density * r^2),
  * never n^2. Distance joins in dense regions are OUTPUT-bound by
  * nature; the grid makes the cost proportional to the candidates of
  * the answer, which is the optimality class for this operator (Bentley
  * 1975's cell technique; the same shape as the LSH band join). A
  * pathological hot cell is one join key — AQE skew-join splits it.
  */
object Spatial {

  /** 3x3 neighbor offsets: with cell side >= radius, any pair within
    * the radius differs by at most one cell per axis, so the probe set
    * is a COMPLETE candidate generator (|dx| <= r => |gx_a - gx_b| <= 1
    * because floor is monotone over a shift of at most one cell). */
  private val offsets: Seq[(Int, Int)] =
    for { dx <- Seq(-1, 0, 1); dy <- Seq(-1, 0, 1) } yield (dx, dy)

  /** Equirectangular projection to planar meters (small extents; the
    * caller picks the per-degree scales, e.g. 111320 for latitude and
    * 111320*cos(lat0) precomputed as a literal for longitude). */
  def projectLatLon(lat: Column, lon: Column,
      mPerDegLat: Double, mPerDegLon: Double): (Column, Column) =
    (lon.cast("double") * mPerDegLon, lat.cast("double") * mPerDegLat)

  /** Exact distance-threshold self-join: every unordered pair (a, b)
    * with a < b and euclid(a, b) <= radius, with the distance sig9'd.
    *
    * Home-vs-probe banding: the left row keeps only its HOME cell, the
    * right row fans out to its 9 neighbor cells, so every qualifying
    * ordered pair meets on exactly one join key — no post-join dedup.
    * The verify predicate compares the SQUARED distance against r^2
    * (multiplication and comparison only — exact in both engines);
    * sqrt happens once per RESULT row.
    */
  def distSelfJoin(pts: DataFrame, idCol: String, xCol: String,
      yCol: String, radius: Double): DataFrame = {
    require(radius > 0, s"distSelfJoin: radius must be positive, got $radius")
    val p = pts
      .where(col(idCol).isNotNull && col(xCol).isNotNull &&
        col(yCol).isNotNull)
      .select(col(idCol).as("__id"), col(xCol).cast("double").as("__x"),
        col(yCol).cast("double").as("__y"))
      .withColumn("__gx", floor(col("__x") / radius).cast("long"))
      .withColumn("__gy", floor(col("__y") / radius).cast("long"))
    val home = p.select(col("__id").as("a_id"), col("__x").as("__ax"),
      col("__y").as("__ay"), col("__gx"), col("__gy"))
    val probe = p
      .select(col("__id").as("b_id"), col("__x").as("__bx"),
        col("__y").as("__by"),
        explode(array(offsets.map { case (dx, dy) =>
          struct((col("__gx") + dx).as("gx"), (col("__gy") + dy).as("gy"))
        }: _*)).as("__c"))
      .select(col("b_id"), col("__bx"), col("__by"),
        col("__c.gx").as("__gx"), col("__c.gy").as("__gy"))
    val d2 = (col("__ax") - col("__bx")) * (col("__ax") - col("__bx")) +
      (col("__ay") - col("__by")) * (col("__ay") - col("__by"))
    home.join(probe, Seq("__gx", "__gy"))
      .where(col("a_id") < col("b_id") && d2 <= lit(radius * radius))
      .select(col("a_id"), col("b_id"), Q.sig9(sqrt(d2)).as("dist"))
  }

  /** Cell-id packing bounds: grid indices must fit a 20-bit signed
    * range so (gx, gy) packs into one positive long. At 100-meter
    * cells that covers a ~10^8-meter extent per axis — an order of
    * magnitude past the planet. */
  private val Off: Long = 1L << 20
  private val Side: Long = 1L << 21

  /** Grid density clustering (the DBSCAN shape on cell granularity,
    * GriDBSCAN family): cells holding >= minPts points are CORE; core
    * cells connect to 8-neighbor core cells; clusters are the connected
    * components of that bounded cell graph (labels via the O(log n)
    * large-star/small-star CC already adjudicated for dedup,
    * [[Dedup.dupClustersStar]]); every point in a core cell gets its
    * component's label (min packed cell id), points in non-core cells
    * are noise (NULL cluster).
    *
    * Scale: the corpus is touched exactly twice (the cell count
    * aggregate, the final cell-key assignment join); everything between
    * runs on the OCCUPIED-CELL frame, which is bounded by area/cell^2
    * and in practice orders of magnitude smaller than the point set.
    *
    * @return (idCol, gx, gy, core, cluster_id nullable) */
  def gridCluster(pts: DataFrame, idCol: String, xCol: String,
      yCol: String, cell: Double, minPts: Long,
      maxIter: Int = 50): DataFrame = {
    require(cell > 0, s"gridCluster: cell must be positive, got $cell")
    require(minPts > 0, s"gridCluster: minPts must be positive, got $minPts")
    // p is consumed twice (cell counts, final assignment join) and its
    // upstream is typically an expensive per-row derivation — cut it
    // once at cluster width instead of re-deriving per consumer; core
    // is the bounded occupied-cell frame consumed three times (home,
    // probe, final join) — cut it so the cell aggregate runs once
    // (guide §5: materialize multi-consumer intermediates).
    val p = Checkpoints.spreadCut(pts
      .where(col(idCol).isNotNull && col(xCol).isNotNull &&
        col(yCol).isNotNull)
      .select(col(idCol), col(xCol).cast("double").as("__x"),
        col(yCol).cast("double").as("__y"))
      .withColumn("__gx", floor(col("__x") / cell).cast("long"))
      .withColumn("__gy", floor(col("__y") / cell).cast("long")))
    val cells = p.groupBy(col("__gx"), col("__gy"))
      .agg(count(lit(1)).as("__n"))
    val core = Checkpoints.cut(cells.where(col("__n") >= minPts)
      .select(col("__gx"), col("__gy"),
        ((col("__gx") + Off) * Side + (col("__gy") + Off)).as("__cid")))
    // 8-neighbor adjacency via the same home-vs-probe trick; self-pairs
    // keep isolated core cells as singleton clusters
    val homeC = core.select(col("__cid").as("a_id"), col("__gx"),
      col("__gy"))
    val probeC = core
      .select(col("__cid").as("b_id"),
        explode(array(offsets.map { case (dx, dy) =>
          struct((col("__gx") + dx).as("gx"), (col("__gy") + dy).as("gy"))
        }: _*)).as("__c"))
      .select(col("b_id"), col("__c.gx").as("__gx"),
        col("__c.gy").as("__gy"))
    val pairs = homeC.join(probeC, Seq("__gx", "__gy"))
      .where(col("a_id") < col("b_id"))
      .select(col("a_id"), col("b_id"))
      .unionByName(core.select(col("__cid").as("a_id"),
        col("__cid").as("b_id")))
    val cc = Dedup.dupClustersStar(pairs, "a_id", "b_id", maxIter)
      .select(col("doc_id").as("__cid"), col("cluster_id"))
    p.join(core.select(col("__gx"), col("__gy"), col("__cid")),
        Seq("__gx", "__gy"), "left")
      .join(cc, Seq("__cid"), "left")
      .select(col(idCol), col("__gx").as("gx"), col("__gy").as("gy"),
        col("__cid").isNotNull.as("core"), col("cluster_id"))
  }
}
