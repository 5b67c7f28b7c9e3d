package graft.operators

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deterministic random walks over the crawl graph — the corpus
  * generator for graph-embedding training (DeepWalk / node2vec input:
  * Perozzi et al. 2014): each node starts one walk, each step moves to
  * an out-neighbor chosen by a KEYED hash (md5 of walk id, step, and
  * current node — the house split discipline), so both engines
  * enumerate the SAME walks and the corpus is reproducible run to run
  * — the property a training pipeline needs from its sampler (re-runs
  * must not silently re-sample).
  *
  * Step rule: neighbors of `cur` ranked by dst (dense 0-based rank);
  * chosen index = md5("walk:start:step:cur") mod outdeg. Dead ends
  * (no out-neighbor) terminate the walk — the standard truncated-walk
  * semantics.
  *
  * Scale: NO adjacency lists are materialized — the step is two
  * co-partitioned joins on the current node (frontier × outdeg,
  * frontier × rank-indexed edges), so a supernode with 10^7 neighbors
  * costs one shuffled lookup, not a 10^7-element array in one row.
  * The ranked edge table is computed once (one window partitioned by
  * src — the exact per-key layout the join reuses) and every hop is
  * lineage-cut through [[Iterate.materialize]]. Walk count scales
  * with nodes, not edges; at 10^10 nodes walks bucket by their
  * current node every hop, exactly like [[Crawl.pageRank]]'s rank
  * exchange.
  */
object RandWalk {

  /** Walk length — a design constant (the SQL mirror guards its
    * recursion on it), never data-derived.
    */
  val Steps = 6

  /** Walks over any `(src, dst)` edge frame: one walk per node,
    * `(start, n_steps, final_node, path)`.
    */
  def walks(edges: DataFrame): DataFrame = {
    val e = edges.select(col("src"), col("dst"))
    val ranked = Iterate.materialize(e.withColumn("rk",
      (row_number().over(Window.partitionBy(col("src")).orderBy(col("dst")))
        - 1).cast("long")))
    val deg = ranked.groupBy(col("src"))
      .agg(count(lit(1)).cast("long").as("outdeg"))
    val nodes = e.select(col("src").as("node"))
      .unionAll(e.select(col("dst").as("node"))).distinct()
    var walks = Iterate.materialize(
      nodes.select(col("node").as("start"), col("node").as("cur"),
        lit(0L).as("steps"), col("node").cast("string").as("path"),
        lit(false).as("done")))
    for (t <- 0 until Steps) {
      val active = walks.filter(!col("done"))
      val withIdx = active.join(deg, active("cur") === deg("src"), "left_outer")
        .withColumn("idx", when(col("outdeg").isNotNull, expr(
          s"cast(conv(substring(md5(concat('walk:', start, ':', $t, ':', cur)), 1, 7), 16, 10) as bigint) % outdeg")))
      val stepped = withIdx
        .join(ranked.select(col("src").as("e_src"), col("dst").as("e_dst"),
          col("rk")),
          withIdx("cur") === col("e_src") && withIdx("idx") === col("rk"),
          "left_outer")
        .select(col("start"),
          coalesce(col("e_dst"), col("cur")).as("cur"),
          when(col("e_dst").isNotNull, col("steps") + 1L)
            .otherwise(col("steps")).as("steps"),
          when(col("e_dst").isNotNull,
            concat(col("path"), lit("->"), col("e_dst").cast("string")))
            .otherwise(col("path")).as("path"),
          col("e_dst").isNull.as("done"))
      walks = Iterate.materialize(
        stepped.unionByName(walks.filter(col("done"))))
    }
    walks.select(col("start"), col("steps").as("n_steps"),
      col("cur").as("final_node"), col("path"))
  }

  /** q_rand_walk — walks over the shared events-derived crawl graph. */
  def randWalk(s: SparkSession, d: String): DataFrame =
    walks(Tables.edgesShared(s, d))

  val randWalkSql: String =
    s"""WITH RECURSIVE ${Tables.edgesSql},
       |ranked AS MATERIALIZED (
       |  SELECT src, dst,
       |         (row_number() OVER (PARTITION BY src ORDER BY dst) - 1)::BIGINT AS rk
       |  FROM edges
       |), deg AS (
       |  SELECT src, count(*)::BIGINT AS outdeg FROM ranked GROUP BY src
       |), nodes AS (
       |  SELECT DISTINCT node FROM (
       |    SELECT src AS node FROM edges
       |    UNION ALL
       |    SELECT dst FROM edges)
       |), wk(start, cur, steps, path, done) AS (
       |  SELECT node, node, 0::BIGINT, node::VARCHAR, false FROM nodes
       |  UNION ALL
       |  SELECT q.start,
       |         coalesce(r.dst, q.cur),
       |         CASE WHEN r.dst IS NOT NULL THEN q.steps + 1 ELSE q.steps END,
       |         CASE WHEN r.dst IS NOT NULL THEN q.path || '->' || r.dst
       |              ELSE q.path END,
       |         r.dst IS NULL
       |  FROM (
       |    SELECT w.start, w.cur, w.steps, w.path,
       |           CASE WHEN d.outdeg IS NOT NULL THEN
       |             ('0x' || substr(md5('walk:' || w.start || ':' || w.steps
       |                                  || ':' || w.cur), 1, 7))::BIGINT
       |               % d.outdeg END AS idx
       |    FROM wk w LEFT JOIN deg d ON d.src = w.cur
       |    WHERE NOT w.done AND w.steps < $Steps
       |  ) q
       |  LEFT JOIN ranked r ON r.src = q.cur AND r.rk = q.idx
       |)
       |SELECT start, steps AS n_steps, cur AS final_node, path
       |FROM wk WHERE done OR steps = $Steps
       |ORDER BY start""".stripMargin
}
