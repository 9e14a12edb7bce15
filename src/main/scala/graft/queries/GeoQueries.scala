package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.Geo
import graft.sources.Tables

/** Geospatial / trajectory query surface (see [[graft.operators.Geo]]).
  *
  * The harness tables carry no coordinates, so each query derives a
  * deterministic point set from ids with the cross-engine md5 recipe
  * (exactly how q99/q101/q104/q107 derive buckets/tokens) — the DuckDB
  * oracle rebuilds the identical geometry and then answers the spatial
  * question with a DIFFERENT algorithm (band join instead of grid
  * bucketing, cross join + window instead of a literal-array fold), so
  * a hash match proves the distributed formulation exact, not just
  * self-consistent. All geometry is integer (squared euclidean / L1) —
  * no floating-point trig anywhere, so results are bit-stable under any
  * partitioning on both engines.
  */
object GeoQueries {

  type Q = (SparkSession, String) => DataFrame

  private val W = 4000 // world grid extent per axis

  private def coordSql(id: String, salt: String): String =
    s"('0x'||substr(md5($id::VARCHAR||'$salt'),1,15))::BIGINT % $W"

  private def customerPoints(s: SparkSession, dir: String): DataFrame =
    Tables.customer(s, dir).select(
      col("c_custkey").as("id"),
      Geo.derivedCoord(col("c_custkey"), W, "gx").as("x"),
      Geo.derivedCoord(col("c_custkey"), W, "gy").as("y"))

  /** Grid-bucketed radius self-join on the customer point set: all
    * pairs within euclidean distance 50 (cell = shuffle key, 3x3
    * neighborhood replication, exact integer residual predicate). The
    * oracle finds the same pairs with a one-axis band join — two
    * different join algorithms that must produce the identical pair
    * set.
    */
  def q115SpatialJoin(s: SparkSession, dir: String): DataFrame =
    Geo.radiusJoin(customerPoints(s, dir), radius = 50)
      .orderBy(col("a_id"), col("b_id"))

  val q115Sql: String =
    s"""WITH p AS (
       |  SELECT c_custkey AS id, ${coordSql("c_custkey", "gx")} AS x,
       |         ${coordSql("c_custkey", "gy")} AS y
       |  FROM customer)
       |SELECT a.id AS a_id, b.id AS b_id,
       |  (a.x-b.x)*(a.x-b.x) + (a.y-b.y)*(a.y-b.y) AS d2
       |FROM p a JOIN p b
       |  ON a.id < b.id AND b.x BETWEEN a.x - 50 AND a.x + 50
       |WHERE (a.x-b.x)*(a.x-b.x) + (a.y-b.y)*(a.y-b.y) <= 2500
       |ORDER BY a_id, b_id""".stripMargin

  private def stepSql(salt: String): String =
    s"('0x'||substr(md5(event_id::VARCHAR||'$salt'),1,15))::BIGINT % 21 - 10"

  /** Per-animal track statistics over the md5 random walk: one keyed
    * window (partition by track, order by time) feeding order-
    * independent integer aggregates — path length, net displacement,
    * bounding box, max step. The oracle replays the walk with SQL
    * windows.
    */
  def q116TrajectoryStats(s: SparkSession, dir: String): DataFrame =
    Geo.trajectoryStats(Tables.events(s, dir), "user_id", "ts", "event_id")

  val q116Sql: String =
    s"""WITH st AS (
       |  SELECT user_id, event_id, ts,
       |    ${stepSql("dx")} AS dx, ${stepSql("dy")} AS dy
       |  FROM events),
       |pos AS (
       |  SELECT user_id, dx, dy, abs(dx) + abs(dy) AS step_l1,
       |    ${coordSql("user_id", "bx")} + sum(dx) OVER w AS x,
       |    ${coordSql("user_id", "by")} + sum(dy) OVER w AS y,
       |    row_number() OVER w AS rn
       |  FROM st
       |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
       |SELECT user_id,
       |  CAST(count(*) AS BIGINT) AS n_fixes,
       |  CAST(coalesce(sum(CASE WHEN rn > 1 THEN step_l1 END), 0) AS BIGINT)
       |    AS path_l1,
       |  CAST(abs(coalesce(sum(CASE WHEN rn > 1 THEN dx END), 0))
       |     + abs(coalesce(sum(CASE WHEN rn > 1 THEN dy END), 0)) AS BIGINT)
       |    AS net_l1,
       |  CAST(max(x) - min(x) AS BIGINT) AS bbox_w,
       |  CAST(max(y) - min(y) AS BIGINT) AS bbox_h,
       |  CAST(coalesce(max(CASE WHEN rn > 1 THEN step_l1 END), 0) AS BIGINT)
       |    AS max_step_l1
       |FROM pos GROUP BY user_id ORDER BY user_id""".stripMargin

  /** Stop detection (gaps-and-islands on the same walk): maximal runs
    * of >= 3 fixes with step L1 <= 8. Run ids come from a flag-change
    * running count inside the SAME keyed window as the positions; the
    * oracle recomputes the segments with lag + windowed sums.
    */
  def q117StopDetection(s: SparkSession, dir: String): DataFrame =
    Geo.detectStops(Tables.events(s, dir), "user_id", "ts", "event_id",
      maxStepL1 = 8, minFixes = 3)

  val q117Sql: String =
    s"""WITH st AS (
       |  SELECT user_id, event_id, ts,
       |    ${stepSql("dx")} AS dx, ${stepSql("dy")} AS dy
       |  FROM events),
       |pos AS (
       |  SELECT user_id, ts, abs(dx) + abs(dy) AS step_l1,
       |    ${coordSql("user_id", "bx")} + sum(dx) OVER w AS x,
       |    ${coordSql("user_id", "by")} + sum(dy) OVER w AS y
       |  FROM st
       |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
       |f AS (
       |  SELECT *, CASE WHEN step_l1 <= 8 THEN 1 ELSE 0 END AS still
       |  FROM pos),
       |l AS (
       |  SELECT *, lag(still) OVER (PARTITION BY user_id ORDER BY ts) AS prev
       |  FROM f),
       |g AS (
       |  SELECT *, sum(CASE WHEN prev IS NULL OR prev <> still THEN 1
       |                     ELSE 0 END)
       |    OVER (PARTITION BY user_id ORDER BY ts) AS grp
       |  FROM l)
       |SELECT user_id,
       |  CAST(epoch_us(min(ts)) AS BIGINT) AS start_us,
       |  CAST(epoch_us(max(ts)) AS BIGINT) AS end_us,
       |  CAST(count(*) AS BIGINT) AS n_fixes,
       |  CAST(floor(sum(x) / count(*)) AS BIGINT) AS cx,
       |  CAST(floor(sum(y) / count(*)) AS BIGINT) AS cy
       |FROM g WHERE still = 1
       |GROUP BY user_id, grp
       |HAVING count(*) >= 3
       |ORDER BY user_id, start_us""".stripMargin

  /** Nearest-station assignment: every customer point to its closest of
    * 25 derived stations via a literal-array fold — a map-only plan
    * with zero exchanges. The oracle does the honest cross join +
    * per-point window argmin; ties go to the lowest station id on both
    * sides.
    */
  def q118NearestStation(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // a local relation, not s.range: the collect then runs on the
    // driver without a Spark job
    val stations = (0 until 25).toDF("id").select(
      col("id").cast("int").as("sid"),
      Geo.derivedCoord(col("id"), W, "sx").as("sx"),
      Geo.derivedCoord(col("id"), W, "sy").as("sy"))
      .as[(Int, Long, Long)].collect().sortBy(_._1)
    Geo.nearestAssign(customerPoints(s, dir), stations)
      .orderBy(col("id"))
  }

  val q118Sql: String =
    s"""WITH p AS (
       |  SELECT c_custkey AS id, ${coordSql("c_custkey", "gx")} AS x,
       |         ${coordSql("c_custkey", "gy")} AS y
       |  FROM customer),
       |s AS (
       |  SELECT CAST(sid AS INT) AS sid, ${coordSql("sid", "sx")} AS sx,
       |         ${coordSql("sid", "sy")} AS sy
       |  FROM range(25) t(sid)),
       |d AS (
       |  SELECT p.id, s.sid,
       |    (p.x-s.sx)*(p.x-s.sx) + (p.y-s.sy)*(p.y-s.sy) AS d2,
       |    row_number() OVER (PARTITION BY p.id
       |      ORDER BY (p.x-s.sx)*(p.x-s.sx) + (p.y-s.sy)*(p.y-s.sy), s.sid)
       |      AS rn
       |  FROM p CROSS JOIN s)
       |SELECT id, sid AS station_id, d2 FROM d WHERE rn = 1
       |ORDER BY id""".stripMargin

  /** Spatial density heatmap: event fix counts per 250-unit grid cell,
    * densest 50 cells (count desc, cell id tiebreak — a deterministic
    * total order, so the limit is stable). One partial-aggregated
    * exchange of cell ids.
    */
  def q119CellDensity(s: SparkSession, dir: String): DataFrame = {
    val pts = Tables.events(s, dir).select(
      Geo.derivedCoord(col("event_id"), W, "ex").as("x"),
      Geo.derivedCoord(col("event_id"), W, "ey").as("y"))
    Geo.cellDensity(pts, cellSize = 250).limit(50)
  }

  val q119Sql: String =
    s"""WITH p AS (
       |  SELECT ${coordSql("event_id", "ex")} AS x,
       |         ${coordSql("event_id", "ey")} AS y
       |  FROM events)
       |SELECT x // 250 AS cx, y // 250 AS cy, CAST(count(*) AS BIGINT) AS n
       |FROM p GROUP BY 1, 2
       |ORDER BY n DESC, cx, cy LIMIT 50""".stripMargin

  /** Shared oracle CTE: the md5 random walk replayed in SQL — steps,
    * positions, per-track fix order. Matches [[Geo.walkPositions]].
    */
  private val walkCte: String =
    s"""st AS (
       |  SELECT user_id, event_id, ts,
       |    ${stepSql("dx")} AS dx, ${stepSql("dy")} AS dy
       |  FROM events),
       |pos AS (
       |  SELECT user_id, event_id, ts,
       |    ${coordSql("user_id", "bx")} + sum(dx) OVER w AS x,
       |    ${coordSql("user_id", "by")} + sum(dy) OVER w AS y
       |  FROM st
       |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))""".stripMargin

  /** Spatio-temporal co-location: track pairs with fixes within
    * distance 75 and one hour of each other, aggregated to meeting
    * count / closest approach / first+last co-occurrence. Spark buckets
    * on (cell, cell, hour) with 3x3x3 probe replication; the oracle
    * finds the identical fix pairs with a time-band join — two
    * different join algorithms over the same exact predicate.
    */
  def q120CoLocation(s: SparkSession, dir: String): DataFrame =
    Geo.coLocation(Tables.events(s, dir), "user_id", "ts", "event_id",
      radius = 75, gapUs = 3600000000L)

  val q120Sql: String =
    s"""WITH $walkCte,
       |p AS (SELECT user_id AS u, epoch_us(ts) AS us, x, y FROM pos),
       |pairs AS (
       |  SELECT a.u AS a_track, b.u AS b_track,
       |    (a.x-b.x)*(a.x-b.x) + (a.y-b.y)*(a.y-b.y) AS d2,
       |    a.us AS a_us, b.us AS b_us
       |  FROM p a JOIN p b
       |    ON a.u < b.u AND b.us BETWEEN a.us - 3600000000 AND a.us + 3600000000
       |  WHERE (a.x-b.x)*(a.x-b.x) + (a.y-b.y)*(a.y-b.y) <= 5625)
       |SELECT a_track, b_track,
       |  CAST(count(*) AS BIGINT) AS n_meetings,
       |  CAST(min(d2) AS BIGINT) AS min_d2,
       |  CAST(min(least(a_us, b_us)) AS BIGINT) AS first_us,
       |  CAST(max(greatest(a_us, b_us)) AS BIGINT) AS last_us
       |FROM pairs GROUP BY a_track, b_track
       |ORDER BY a_track, b_track""".stripMargin

  private val nFences = 12
  private val fenceHalf = 250L

  private def fenceSet(s: SparkSession): Array[(Int, Long, Long, Long, Long)] = {
    import s.implicits._
    (0 until nFences).toDF("id").select(
      col("id").cast("int").as("fid"),
      Geo.derivedCoord(col("id"), W, "fx").as("fx"),
      Geo.derivedCoord(col("id"), W, "fy").as("fy"))
      .as[(Int, Long, Long)].collect().sortBy(_._1)
      .map { case (fid, fx, fy) =>
        (fid, fx - fenceHalf, fy - fenceHalf, fx + fenceHalf, fy + fenceHalf) }
  }

  /** Geofence episodes: maximal same-fence runs of >= 3 fixes against
    * 12 derived rectangular fences. Spark assigns fences with a
    * map-only first-hit fold (= min containing id) and segments with
    * gaps-and-islands in one keyed window; the oracle assigns with an
    * honest containment LEFT JOIN + min(fid) and replays the runs with
    * lag + windowed sums.
    */
  def q121GeofenceEpisodes(s: SparkSession, dir: String): DataFrame =
    Geo.geofenceEpisodes(Tables.events(s, dir), "user_id", "ts", "event_id",
      fenceSet(s), minFixes = 3)

  val q121Sql: String =
    s"""WITH $walkCte,
       |fence AS (
       |  SELECT CAST(fid AS INT) AS fid,
       |    ${coordSql("fid", "fx")} AS fx, ${coordSql("fid", "fy")} AS fy
       |  FROM range($nFences) t(fid)),
       |asg AS (
       |  SELECT p.user_id, p.event_id, p.ts, min(f.fid) AS f
       |  FROM pos p LEFT JOIN fence f
       |    ON p.x BETWEEN f.fx - $fenceHalf AND f.fx + $fenceHalf
       |   AND p.y BETWEEN f.fy - $fenceHalf AND f.fy + $fenceHalf
       |  GROUP BY p.user_id, p.event_id, p.ts),
       |l AS (
       |  SELECT *, coalesce(f, -1) AS cf,
       |    lag(coalesce(f, -1)) OVER (PARTITION BY user_id
       |      ORDER BY ts, event_id) AS prev
       |  FROM asg),
       |g AS (
       |  SELECT *, sum(CASE WHEN prev IS NULL OR prev <> cf THEN 1
       |                     ELSE 0 END)
       |    OVER (PARTITION BY user_id ORDER BY ts, event_id) AS grp
       |  FROM l)
       |SELECT user_id, CAST(f AS INT) AS fence_id,
       |  CAST(epoch_us(min(ts)) AS BIGINT) AS enter_us,
       |  CAST(epoch_us(max(ts)) AS BIGINT) AS exit_us,
       |  CAST(count(*) AS BIGINT) AS n_fixes
       |FROM g WHERE f IS NOT NULL
       |GROUP BY user_id, grp, f
       |HAVING count(*) >= 3
       |ORDER BY user_id, enter_us""".stripMargin

  /** Geofence alert stream (batch twin): one row per fence transition
    * per track against the same 12 derived fences as q121, with -1 as
    * "outside". The streaming version
    * ([[graft.streaming.EventStreams.geofenceAlerts]]) carries walk
    * position + last fence as per-track state and is proven
    * row-identical to this function in StreamingSpec; the oracle
    * replays the containment join + lag in SQL.
    */
  def q124GeofenceAlerts(s: SparkSession, dir: String): DataFrame =
    Geo.fenceTransitions(Tables.events(s, dir), "user_id", "ts", "event_id",
      fenceSet(s))

  val q124Sql: String =
    s"""WITH $walkCte,
       |fence AS (
       |  SELECT CAST(fid AS INT) AS fid,
       |    ${coordSql("fid", "fx")} AS fx, ${coordSql("fid", "fy")} AS fy
       |  FROM range($nFences) t(fid)),
       |asg AS (
       |  SELECT p.user_id, p.event_id, p.ts,
       |    CAST(coalesce(min(f.fid), -1) AS INT) AS f
       |  FROM pos p LEFT JOIN fence f
       |    ON p.x BETWEEN f.fx - $fenceHalf AND f.fx + $fenceHalf
       |   AND p.y BETWEEN f.fy - $fenceHalf AND f.fy + $fenceHalf
       |  GROUP BY p.user_id, p.event_id, p.ts),
       |l AS (
       |  SELECT *, CAST(coalesce(lag(f) OVER (PARTITION BY user_id
       |    ORDER BY ts, event_id), -1) AS INT) AS prev
       |  FROM asg)
       |SELECT user_id, CAST(epoch_us(ts) AS BIGINT) AS us,
       |  prev AS from_fence, f AS to_fence
       |FROM l WHERE f <> prev
       |ORDER BY user_id, us""".stripMargin

  /** Home-range summary per track over 25-unit grid cells: distinct
    * cells visited, peak cell occupancy, and the 50% core range (fewest
    * densest cells covering half the fixes). The oracle replays the
    * cumulative-occupancy ranking with SQL windows; floor-division via
    * floor(x/25.0) on both engines because walk coordinates can go
    * negative (DuckDB's // truncates toward zero, Spark's floor(/)
    * floors).
    */
  def q122HomeRange(s: SparkSession, dir: String): DataFrame =
    Geo.homeRange(Tables.events(s, dir), "user_id", "ts", "event_id",
      cellSize = 25)

  val q122Sql: String =
    s"""WITH $walkCte,
       |pc AS (
       |  SELECT user_id,
       |    CAST(floor(x / 25.0) AS BIGINT) AS hx,
       |    CAST(floor(y / 25.0) AS BIGINT) AS hy,
       |    count(*) AS c
       |  FROM pos GROUP BY 1, 2, 3),
       |r AS (
       |  SELECT *,
       |    sum(c) OVER (PARTITION BY user_id ORDER BY c DESC, hx, hy
       |      ROWS UNBOUNDED PRECEDING) - c AS before,
       |    sum(c) OVER (PARTITION BY user_id) AS total
       |  FROM pc)
       |SELECT user_id,
       |  CAST(max(total) AS BIGINT) AS n_fixes,
       |  CAST(count(*) AS BIGINT) AS n_cells,
       |  CAST(max(c) AS BIGINT) AS peak,
       |  CAST(sum(CASE WHEN before * 2 < total THEN 1 ELSE 0 END) AS BIGINT)
       |    AS core_cells
       |FROM r GROUP BY user_id ORDER BY user_id""".stripMargin

  /** Trajectory-similarity join: track pairs whose paths stay within
    * L1 distance 400 at every one of 8 index-aligned checkpoints —
    * co-movement detection over the checkpoint sketch, so the pair
    * stage scales with tracks, never fixes. The oracle rebuilds the
    * checkpoints with SQL windows and finds the same pairs with a
    * band join on the first checkpoint plus an honest per-pair
    * checkpoint join + max aggregate.
    */
  def q127TrajectorySimilarity(s: SparkSession, dir: String): DataFrame =
    Geo.trajectorySimilarity(Tables.events(s, dir), "user_id", "ts",
      "event_id", k = 8, maxL1 = 400)

  val q127Sql: String =
    s"""WITH $walkCte,
       |wp AS (
       |  SELECT user_id, x, y,
       |    row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn,
       |    count(*) OVER (PARTITION BY user_id) AS n
       |  FROM pos),
       |ck AS (
       |  SELECT w.user_id, r.i, w.x, w.y
       |  FROM wp w JOIN range(8) r(i) ON w.rn = 1 + (r.i * (w.n - 1)) // 7
       |  WHERE w.n >= 8),
       |c1 AS (SELECT user_id, x, y FROM ck WHERE i = 0),
       |pr AS (
       |  SELECT a.user_id AS ta, b.user_id AS tb
       |  FROM c1 a JOIN c1 b
       |    ON a.user_id < b.user_id
       |   AND b.x BETWEEN a.x - 400 AND a.x + 400
       |   AND abs(a.y - b.y) <= 400),
       |d AS (
       |  SELECT p.ta, p.tb, max(abs(k1.x - k2.x) + abs(k1.y - k2.y)) AS m
       |  FROM pr p
       |  JOIN ck k1 ON k1.user_id = p.ta
       |  JOIN ck k2 ON k2.user_id = p.tb AND k2.i = k1.i
       |  GROUP BY p.ta, p.tb)
       |SELECT ta AS a_track, tb AS b_track, CAST(m AS BIGINT) AS max_l1
       |FROM d WHERE m <= 400
       |ORDER BY a_track, b_track""".stripMargin

  /** Track resampling onto a daily grid: the irregular fix stream
    * regularized by as-of fill (most recent position at or before each
    * absolute day boundary, plus staleness). Spark uses the engine's
    * union+keyed-window as-of machinery; the oracle answers with
    * DuckDB's native ASOF JOIN — two entirely different as-of
    * algorithms that must agree on every slot, including exact-tie
    * slots (fix precisely on a boundary) and staleness arithmetic.
    */
  def q130ResampleTracks(s: SparkSession, dir: String): DataFrame =
    Geo.resampleTracks(Tables.events(s, dir), "user_id", "ts", "event_id",
      stepUs = 86400000000L)

  val q130Sql: String =
    s"""WITH $walkCte,
       |p AS (SELECT user_id, epoch_us(ts) AS fus, x, y FROM pos),
       |span AS (
       |  SELECT user_id, min(fus) AS lo, max(fus) AS hi
       |  FROM p GROUP BY user_id),
       |grid AS (
       |  SELECT user_id,
       |    unnest(range((lo + 86399999999) // 86400000000,
       |                 hi // 86400000000 + 1)) * 86400000000 AS slot_us
       |  FROM span)
       |SELECT g.user_id, g.slot_us,
       |  CAST(f.x AS BIGINT) AS x, CAST(f.y AS BIGINT) AS y,
       |  g.slot_us - f.fus AS age_us
       |FROM grid g ASOF JOIN p f
       |  ON g.user_id = f.user_id AND g.slot_us >= f.fus
       |ORDER BY g.user_id, g.slot_us""".stripMargin

  val queries: Map[String, Q] = Map(
    "q130_resample_tracks" -> q130ResampleTracks _,
    "q127_trajectory_similarity" -> q127TrajectorySimilarity _,
    "q115_spatial_join"    -> q115SpatialJoin _,
    "q116_trajectory_stats" -> q116TrajectoryStats _,
    "q117_stop_detection"  -> q117StopDetection _,
    "q118_nearest_station" -> q118NearestStation _,
    "q119_cell_density"    -> q119CellDensity _,
    "q120_colocation"      -> q120CoLocation _,
    "q121_geofence_episodes" -> q121GeofenceEpisodes _,
    "q122_home_range"      -> q122HomeRange _,
    "q124_geofence_alerts" -> q124GeofenceAlerts _)

  val oracle: Map[String, String] = Map(
    "q130_resample_tracks" -> q130Sql,
    "q127_trajectory_similarity" -> q127Sql,
    "q115_spatial_join"    -> q115Sql,
    "q116_trajectory_stats" -> q116Sql,
    "q117_stop_detection"  -> q117Sql,
    "q118_nearest_station" -> q118Sql,
    "q119_cell_density"    -> q119Sql,
    "q120_colocation"      -> q120Sql,
    "q121_geofence_episodes" -> q121Sql,
    "q122_home_range"      -> q122Sql,
    "q124_geofence_alerts" -> q124Sql)
}
