package graft.pipeline

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}

/** Link-graph analytics for corpus quality weighting.
  *
  * Web-scale training-data pipelines weight documents by the link
  * structure of their origin (Common-Crawl-style host-graph PageRank,
  * harmonic centrality); this module provides the iterative-graph
  * machinery on Spark. The demonstration graph is derived from TPC-H:
  * suppliers co-occurring in an order are linked (weight = number of
  * co-occurrences), mirroring a host co-citation graph.
  *
  * **Cross-engine exactness**: ranks are fixed-point BIGINTs (scale
  * [[Graph.Scale]]) and every step uses integral arithmetic only —
  * `(rank * w) div ow` per edge, exact integer SUM per node, damping
  * as `(17 * s) div 20` — so the result is bit-identical regardless of
  * summation order or engine, unlike a floating-point PageRank whose
  * per-node sums depend on reduction order. The DuckDB oracle unrolls
  * the same recurrence with `//` floor division (identical to `div`
  * for the non-negative values here).
  *
  * **One runner, two venues.** Every operator materializes its edge
  * relation once ([[stage]]) and decides its venue once against a cap.
  * Under the cap it runs on the driver: a distributed round costs
  * ~210–250 ms of Spark stage machinery at sf0.1 while the integer
  * arithmetic of a megabyte-scale graph is sub-millisecond. Above the
  * cap the distributed plans are the 100 TB path: one shuffle per side
  * per round, volume O(|E|), edges materialized once and state
  * materialized so the plan stays constant-depth (reliable checkpoints
  * under `graft.checkpointDir`). The message-passing operators —
  * pagerank, personalized pagerank, label propagation, cheapest paths
  * and the neighborhood function — are each ONE [[VertexProgram]]
  * whose Catalyst Columns both venues evaluate, so the venues agree by
  * construction. kCore, harmonicCentrality, triangleCounts and
  * linkPrediction keep bespoke loops. Every operator returns one
  * schema in both venues ([[localResult]], [[nullable]]); GraphSpec
  * pins driver == distributed, schema and rows, for every operator.
  *
  * Two caps because per-round work differs in shape:
  *  - `graft.graph.maxDriverEdges` (default 2M): the O(|E|)-per-round
  *    loops. 2M edges ≈ 64 MB collected.
  *  - `graft.graph.maxDriverEdgesQuadratic` (default 256k): the
  *    ball/wedge operators (bounded-radius BFS, HyperBall sketches,
  *    triangles, link prediction) whose work is Σ|ball| / Σdeg².
  */
object Graph {

  /** Fixed-point scale: rank 1.0 == 1e9. Headroom: rank ≤ Scale, so
    * `rank * w` stays under Long.MaxValue while w ≤ ~9.2e9; beyond
    * that the ANSI multiply raises in either venue. */
  val Scale: Long = 1000000000L

  private[graft] val LinearCap = ("graft.graph.maxDriverEdges", 2000000L)
  private[graft] val QuadraticCap = ("graft.graph.maxDriverEdgesQuadratic", 262144L)

  /** The shared preamble: materialize an operator's edge relation once
    * and decide the venue once — (edges, |E|, on the driver?). The
    * checkpoint is lazy: the count that sizes the relation is the job
    * that materializes it. */
  private[graft] def stage(edges: DataFrame, cap: (String, Long)): (DataFrame, Long, Boolean) = {
    val e = PartitionUtil.materializeConf(edges, eager = false)
    val m = e.count()
    (e, m, m <= edges.sparkSession.conf.get(cap._1, cap._2.toString).toLong)
  }

  /** The shared result builder. Both venues return the operator's
    * declared columns, every one nullable: the driver types its rows
    * by `schema`, the distributed result passes through [[nullable]].
    * (Typing driver rows by a lazily built distributed plan instead
    * costs ~0.3 s of eager analysis per call on Spark 4.1 — fifty
    * times the q119 driver rounds.) */
  private[graft] def localResult(spark: SparkSession, schema: StructType,
                                 rows: Seq[Row]): DataFrame =
    spark.createDataFrame(rows.asJava, schema)

  private[graft] def longs(names: String*): StructType =
    StructType(names.map(StructField(_, LongType)))

  /** `df` with every column nullable: the identity on values, which
    * the optimizer folds away. */
  private[graft] def nullable(df: DataFrame): DataFrame =
    df.select(df.columns.map(c => when(col(c).isNotNull, col(c)).as(c)).toSeq: _*)

  private def weighted(edges: DataFrame): DataFrame =
    edges.select(col("src"), col("dst"), col("w").cast("long").as("w"))

  /** Canonical undirected simple edges (a < b). */
  private def undirected(edges: DataFrame): DataFrame =
    edges.select(least(col("src"), col("dst")).as("a"),
        greatest(col("src"), col("dst")).as("b"))
      .filter(col("a") =!= col("b")).distinct()

  /** The integer PageRank recurrence as a vertex program: each node's
    * rank flows along its out-edges as `(rank * w) div ow` — nothing
    * when its out-weight is 0, as the oracle's `//` by zero gives a
    * NULL that SUM skips — the contributions sum per node, and the new
    * rank is the restart term `base` plus `(17 * sum) div 20`. */
  private def rankProgram(iters: Int, init: Column, base: Column): VertexProgram =
    VertexProgram("rank", iters, init,
      message = expr("if(ow = 0, null, (rank * w) div ow)"),
      combine = Combine.Sum,
      update = base + expr("(17 * coalesce(m, 0)) div 20"),
      outWeight = Some(col("w")), keepAll = true)

  /** The driver venue of the PageRank program over collected
    * (src, dst, w) edges, with per-node initial rank and restart term. */
  private[graft] def driverRankLoop(ew: Array[(Long, Long, Long)],
                                    iters: Int,
                                    rank0: Long => Long,
                                    baseOf: Long => Long): Seq[Array[Long]] = {
    val e = SparkSession.active.createDataFrame(ew.toSeq).toDF("src", "dst", "w")
    VertexProgram.onDriver(rankProgram(iters, udf(rank0).apply(col("v")),
        udf(baseOf).apply(col("v"))), e)
      .collect().map(r => Array(r.getLong(0), r.getLong(1))).toSeq
  }

  /** Supplier co-occurrence edges from lineitem: (src, dst, w) with
    * w = number of orders where both suppliers appear; symmetric by
    * construction, no self-loops. Distinct (order, supplier) first so
    * multi-lineitem orders don't inflate weights quadratically. */
  def supplierCooccurrence(lineitem: DataFrame): DataFrame = {
    // group each order's supplier SET (collect_set dedups multi-line
    // suppliers and is map-side combined), then expand ordered pairs
    // with a codegen'd higher-order transform — two shuffles total
    // (order group, pair count) and no join; the per-order set is
    // bounded (≤ 7 lineitems/order in TPC-H), so the expansion is a
    // bounded constant factor, never a hot-key blowup. The pair rides
    // the count exchange PACKED into one BIGINT (src·2³² + dst):
    // half the key bytes and a single-word grouping key instead of a
    // two-field struct (guide §2.3 — narrower types on the exchange;
    // measured 15% off the build, which every graph query pays).
    // Ids outside [0, 2³¹) would break the packing's injectivity, so
    // under the default they fail loudly instead of mis-counting —
    // and `graft.graph.packPairKey=false` selects the two-column
    // struct-key grouping instead (same rows, wider exchange), the
    // documented escape hatch for id domains the pack cannot carry
    // (synthetic/hashed 64-bit ids at 100 TB). The branch is a conf,
    // not a data probe: auto-detecting the bound would cost an extra
    // full aggregation pass per query on the common path.
    val packed = lineitem.sparkSession.conf
      .get("graft.graph.packPairKey", "true").toBoolean
    val grouped = lineitem.groupBy(col("l_orderkey"))
      .agg(collect_set(col("l_suppkey").cast("long")).as("ss"))
    if (packed) {
      val pack = "IF(x >= 0 AND x < 2147483648 AND y >= 0 AND y < 2147483648, " +
        "x * 4294967296L + y, " +
        "CAST(raise_error('supplierCooccurrence: supplier id exceeds 31 bits " +
        "- packed pair key would overflow; set graft.graph.packPairKey=false' " +
        ") AS BIGINT))"
      grouped
        .select(explode(expr(
          s"flatten(transform(ss, x -> transform(filter(ss, y -> y != x), " +
            s"y -> $pack)))")).as("k"))
        .groupBy(col("k"))
        .agg(count(lit(1)).as("w"))
        .select(shiftrightunsigned(col("k"), 32).as("src"),
          col("k").bitwiseAND(lit(4294967295L)).as("dst"), col("w"))
    } else {
      grouped
        .select(explode(expr(
          "flatten(transform(ss, x -> transform(filter(ss, y -> y != x), " +
            "y -> struct(x AS src, y AS dst))))")).as("p"))
        .select(col("p.src").as("src"), col("p.dst").as("dst"))
        .groupBy(col("src"), col("dst"))
        .agg(count(lit(1)).as("w"))
    }
  }

  /** Weighted PageRank over (src, dst, w) edges, damping 0.85, a fixed
    * number of synchronous iterations, all in Scale-fixed-point integer
    * arithmetic. Nodes are the DISTINCT EDGE SOURCES — a node must
    * have out-edges to hold rank, matching the oracle's outw-keyed
    * recurrence; a pure sink (in-edges only) absorbs contributions
    * but emits no rank row. On a symmetric graph (e.g. co-occurrence)
    * sources and destinations coincide and there is no dangling-mass
    * term. Returns (v, rank) with rank BIGINT. */
  def pagerank(edges: DataFrame, iters: Int = 10): DataFrame =
    VertexProgram.run(pagerankProgram(iters), weighted(edges), LinearCap)

  private[graft] def pagerankProgram(iters: Int): VertexProgram =
    rankProgram(iters, expr(s"$Scale div n"), expr(s"${3 * Scale / 20} div n"))

  /** Personalized PageRank (TrustRank-style) from a SEED SET: the
    * random walk teleports only to seeds, so rank measures proximity
    * to the trusted set — the standard quality-propagation signal for
    * weighting crawl hosts by distance from curated seed domains
    * (Gyöngyi et al. 2004). Same fixed-point integer recurrence as
    * [[pagerank]] with a seed-conditional base term:
    * `rank₀ = Scale/|S|` on seeds (0 elsewhere);
    * `rankₜ₊₁(v) = [v∈S]·(3·Scale)/(20·|S|) + (17·contrib)/20`.
    * Every node of the graph appears in the output (non-seeds far
    * from any seed simply converge to 0) — the row set is the
    * distinct-src node set, like pagerank. */
  def personalizedPagerank(edges: DataFrame, isSeed: Column => Column,
                           iters: Int = 10): DataFrame =
    VertexProgram.run(trustProgram(isSeed, iters), weighted(edges), LinearCap)

  private[graft] def trustProgram(isSeed: Column => Column, iters: Int): VertexProgram = {
    def onSeeds(mass: Long) = expr(s"if(seed, $mass div seeds, 0L)")
    rankProgram(iters, onSeeds(Scale), onSeeds(3 * Scale / 20)).copy(seed = Some(isSeed))
  }

  /** DuckDB oracle for [[personalizedPagerank]] over the supplier
    * co-occurrence graph with seeds `s_suppkey % seedMod == 0`: the
    * identical seed-conditional integer recurrence unrolled. */
  private[graft] def personalizedPagerankOracleSql(seedMod: Int, iters: Int): String = {
    val ns = "(SELECT c FROM ns)"
    val head =
      s"""WITH su AS (SELECT DISTINCT l_orderkey, l_suppkey FROM lineitem),
         |edges AS (SELECT a.l_suppkey AS src, b.l_suppkey AS dst, COUNT(*) AS w
         |  FROM su a JOIN su b ON a.l_orderkey = b.l_orderkey AND a.l_suppkey <> b.l_suppkey
         |  GROUP BY 1, 2),
         |outw AS (SELECT src, CAST(SUM(w) AS BIGINT) AS ow FROM edges GROUP BY src),
         |seeds AS (SELECT src AS v, (src % $seedMod = 0) AS s FROM outw),
         |ns AS (SELECT COUNT(*) AS c FROM seeds WHERE s),
         |r0 AS (SELECT v, CASE WHEN s THEN CAST($Scale AS BIGINT) // $ns
         |  ELSE 0 END AS rank FROM seeds)""".stripMargin
    val iterCtes = (1 to iters).map { k =>
      s"""r$k AS (SELECT sd.v,
         |  CASE WHEN sd.s THEN (3 * CAST($Scale AS BIGINT)) // (20 * $ns) ELSE 0 END
         |  + (17 * COALESCE(CAST(c.sc AS BIGINT), 0)) // 20 AS rank
         |  FROM seeds sd LEFT JOIN (
         |    SELECT e.dst, SUM((r.rank * e.w) // eo.ow) AS sc
         |    FROM edges e JOIN r${k - 1} r ON r.v = e.src JOIN outw eo ON eo.src = e.src
         |    GROUP BY e.dst) c ON c.dst = sd.v)""".stripMargin
    }.mkString(",\n")
    head + ",\n" + iterCtes +
      s"\nSELECT v AS s_suppkey, CAST(rank AS BIGINT) AS trust_scaled FROM r$iters" +
      " ORDER BY trust_scaled DESC, s_suppkey"
  }

  /** Per-node triangle counts over an undirected edge set (the
    * clustering-coefficient numerator — community density signal for
    * link-graph quality weighting). Each undirected edge is oriented
    * from its (degree, id)-lexicographically smaller endpoint; wedges
    * u→v, u→w (v before w in the same order) form by ONE self-join on
    * the pivot u and close into triangles by a semi-join on the
    * directed v→w edge — every triangle is found exactly once at its
    * (degree, id)-minimal corner, then fans out to its three corners.
    * The triangle multiset is orientation-invariant, so the output is
    * identical to the naive id-ordered formulation.
    *
    * Scale shape: the wedge join is the whole cost — Σ_v outdeg(v)²
    * under the orientation. Degree-ordering caps every out-degree at
    * O(√m) (more precisely the join volume is bounded by m times the
    * graph arboricity), so a high-degree hub contributes m·ā wedges,
    * not deg(hub)² — the difference between linear and quadratic on a
    * skewed real link graph (verified by the skew probe in
    * ScaleProbe). The two degree-attach joins are plain O(|E|)
    * equi-joins; the closing semi-join short-circuits per wedge and
    * no triple materializes beyond the wedge set. */
  def triangleCounts(edges: DataFrame): DataFrame = {
    val (e, _, local) = stage(undirected(edges), QuadraticCap)
    if (local) {
      // per edge, every common neighbour is one triangle corner credit,
      // so each corner collects exactly one credit per triangle
      import edges.sparkSession.implicits._
      val ewArr = e.as[(Long, Long)].collect()
      val nbr = (ewArr ++ ewArr.map(_.swap)).groupMap(_._1)(_._2).view.mapValues(_.toSet).toMap
      val corners = ewArr.toSeq.flatMap { case (a, b) =>
        if (nbr(a).size <= nbr(b).size) nbr(a).filter(nbr(b)) else nbr(b).filter(nbr(a))
      }
      return localResult(edges.sparkSession, longs("v", "n_triangles"),
        corners.groupMapReduce(identity)(_ => 1L)(_ + _).map { case (v, n) => Row(v, n) }.toSeq)
    }
    val deg = e.select(col("a").as("v")).union(e.select(col("b").as("v")))
      .groupBy(col("v")).agg(count(lit(1)).as("d"))
    // orient each edge low→high by (degree, id); keep the head's
    // (degree, id) key so the wedge join can order its two spokes
    // without a third degree lookup
    val dir = PartitionUtil.materializeConf(e
      .join(deg.select(col("v").as("a"), col("d").as("da")), Seq("a"))
      .join(deg.select(col("v").as("b"), col("d").as("db")), Seq("b"))
      .select(
        when(col("da") < col("db") ||
             (col("da") === col("db") && col("a") < col("b")),
          struct(col("a").as("u"), col("b").as("x"), col("db").as("dx")))
        .otherwise(
          struct(col("b").as("u"), col("a").as("x"), col("da").as("dx")))
        .as("s"))
      .select(col("s.u").as("u"), col("s.x").as("x"), col("s.dx").as("dx")))
    // wedges u→v, u→w with v strictly before w in (degree, id) order:
    // each unordered spoke pair counted once, and the closing edge
    // {v, w} — if present — is oriented v→w by construction
    val wedges = dir.select(col("u"), col("x").as("v"), col("dx").as("dv"))
      .join(dir.select(col("u"), col("x").as("w"), col("dx").as("dw")), Seq("u"))
      .filter(col("dv") < col("dw") ||
              (col("dv") === col("dw") && col("v") < col("w")))
    val tris = wedges
      .join(dir.select(col("x").as("w"), col("u").as("v")),
        Seq("v", "w"), "left_semi")
    nullable(tris.select(explode(array(col("u"), col("v"), col("w"))).as("v"))
      .groupBy(col("v")).agg(count(lit(1)).as("n_triangles")))
  }

  /** Diagnostic: the wedge-join volume Σ_v C(outdeg(v), 2) the
    * triangle count would generate under either orientation — the
    * number the skew probe reports. `degreeOrdered = true` is the
    * orientation [[triangleCounts]] actually uses (arboricity-bounded:
    * a degree-d hub's edges all point INTO it, so it pivots no
    * wedges); `false` is the naive id-order, where the same hub
    * pivots C(d, 2) wedges. */
  def wedgeVolume(edges: DataFrame, degreeOrdered: Boolean): Long = {
    val e = undirected(edges)
    val pivots =
      if (!degreeOrdered) e.select(col("a").as("u"))
      else {
        val deg = e.select(col("a").as("v")).union(e.select(col("b").as("v")))
          .groupBy(col("v")).agg(count(lit(1)).as("d"))
        e.join(deg.select(col("v").as("a"), col("d").as("da")), Seq("a"))
          .join(deg.select(col("v").as("b"), col("d").as("db")), Seq("b"))
          .select(when(col("da") < col("db") ||
              (col("da") === col("db") && col("a") < col("b")),
            col("a")).otherwise(col("b")).as("u"))
      }
    val r = pivots.groupBy(col("u")).agg(count(lit(1)).as("od"))
      .agg(sum(expr("od * (od - 1) div 2")).as("wedges")).head()
    if (r.isNullAt(0)) 0L else r.getLong(0)
  }
  /** Bounded-radius harmonic centrality: H(v) = Σ_{0<d(u,v)≤R} 1/d —
    * the closeness-family centrality that handles disconnected graphs
    * gracefully (unreachable nodes contribute 0, not ∞), used as a
    * link-graph quality signal alongside PageRank (Boldi & Vigna
    * 2014). Computed by multi-source BFS: the frontier relation
    * (source s, node v, distance d) expands one hop per round, anti-
    * joined against everything already reached so each (s, v) pair
    * keeps its FIRST (= shortest) distance. 1/d lands on the 1e6
    * integer grid (`1e6 div d`) so the sum is engine-exact.
    *
    * Scale shape: round k's relation is Σ_v |ball_k(v)| pairs — the
    * radius bound R is the knob that keeps this from becoming
    * all-pairs on a 100 TB graph (R=3 is the standard local-centrality
    * choice; the unbounded production variant is HyperBall, which
    * replaces the exact pair set with per-node HLL counters — the
    * KMV/HLL sketch family this engine already carries). Each round:
    * one |frontier|·avg-degree equi-join + one anti join + distinct,
    * all hash-shuffled on (s, v); state materializes per round. */
  def harmonicCentrality(edges: DataFrame, radius: Int = 3): DataFrame = {
    require(radius >= 1, s"harmonicCentrality: radius must be >= 1, got $radius")
    val (e0, m, local) = stage(edges.select(col("src"), col("dst"))
      .filter(col("src") =!= col("dst")).distinct(), QuadraticCap)
    if (local) {
      // multi-source BFS: (v, d) for every v first reached from some
      // source at hop d
      import edges.sparkSession.implicits._
      val adj = e0.as[(Long, Long)].collect().groupMap(_._1)(_._2)
      val reached = adj.keys.toSeq.flatMap { s =>
        var seen = Set(s)
        var frontier = Seq(s)
        (1 to radius).flatMap { d =>
          frontier = frontier.flatMap(adj.getOrElse(_, Array.empty[Long])).distinct.filterNot(seen)
          seen ++= frontier
          frontier.map(_ -> d)
        }
      }
      return localResult(edges.sparkSession, longs("v", "harmonic_q6", "n_reached"),
        reached.groupBy(_._1).map { case (v, ds) =>
          Row(v, ds.map(1000000L / _._2).sum, ds.size.toLong) }.toSeq)
    }
    // size per-hop jobs to the graph (the pagerank pattern): a small
    // graph otherwise pays `radius` rounds of full-width task launches
    val e = e0.coalesce(math.max(1L, math.min(
      e0.rdd.getNumPartitions.toLong, m / 2000000L + 1L)).toInt)
    // d(v, v) = 0 seeds; excluded from the sum but needed so round 1
    // doesn't re-reach the source itself. Only each round's FRONTIER
    // materializes — the accumulated reached set stays a lazy union of
    // the already-materialized per-round relations (each round's new
    // pairs are the only new state, so checkpoint I/O is O(Σ|ball|)
    // total, not O(R·Σ|ball|); the anti join probes the union, which
    // scans R materialized block sets — R = radius, a small constant).
    val frontiers = scala.collection.mutable.ArrayBuffer(PartitionUtil.materializeConf(
      e.select(col("src").as("s")).distinct()
        .select(col("s"), col("s").as("v"), lit(0L).as("d"))))
    for (k <- 1 to radius)
      frontiers += PartitionUtil.materializeConf(
        harmonicHop(e, frontiers.last, frontiers.reduce(_ union _), k))
    nullable(frontiers.reduce(_ union _).filter(col("d") > 0)
      .groupBy(col("v"))
      .agg(sum(expr("1000000 div d")).as("harmonic_q6"),
           count(lit(1)).as("n_reached")))
  }

  /** ONE BFS hop of [[harmonicCentrality]], un-materialized (exposed
    * for plan audits): expand the frontier across the edge relation
    * (one equi-join), dedup, and keep first-distance-wins via ONE
    * anti join against the already-reached union — no other join, no
    * window, everything bounded by |frontier|·deg. */
  private[graft] def harmonicHop(e: DataFrame, frontier: DataFrame,
                                 reached: DataFrame, k: Int): DataFrame =
    frontier.join(e.select(col("src").as("v"), col("dst")), Seq("v"))
      .select(col("s"), col("dst").as("v")).distinct()
      .join(reached, Seq("s", "v"), "left_anti")
      .select(col("s"), col("v"), lit(k.toLong).as("d"))

  /** DuckDB oracle for [[harmonicCentrality]] on the strong-tie
    * graph, radius unrolled to 3 hop CTEs with the same
    * first-distance-wins anti-join semantics. */
  private[graft] def harmonicCentralityOracleSql(minW: Long, radius: Int): String = {
    require(radius >= 1)
    val head =
      s"""WITH su AS (SELECT DISTINCT l_orderkey, l_suppkey FROM lineitem),
         |edges0 AS (SELECT a.l_suppkey AS src, b.l_suppkey AS dst, COUNT(*) AS w
         |  FROM su a JOIN su b ON a.l_orderkey = b.l_orderkey AND a.l_suppkey <> b.l_suppkey
         |  GROUP BY 1, 2),
         |e AS (SELECT DISTINCT src, dst FROM edges0 WHERE w >= $minW AND src <> dst),
         |p0 AS (SELECT DISTINCT src AS s, src AS v, 0 AS d FROM e)""".stripMargin
    val hops = (1 to radius).map { k =>
      val prev = (0 until k).map(i => s"SELECT s, v FROM p$i").mkString(" UNION ALL ")
      s"""p$k AS (SELECT DISTINCT f.s, e.dst AS v, $k AS d
         |  FROM p${k - 1} f JOIN e ON e.src = f.v
         |  WHERE NOT EXISTS (SELECT 1 FROM ($prev) r
         |                    WHERE r.s = f.s AND r.v = e.dst))""".stripMargin
    }.mkString(",\n")
    val unionAll = (1 to radius).map(i => s"SELECT s, v, d FROM p$i").mkString(" UNION ALL ")
    head + ",\n" + hops +
      s"""\nSELECT v AS s_suppkey,
         |  CAST(SUM(1000000 // d) AS BIGINT) AS harmonic_q6,
         |  COUNT(*) AS n_reached
         |FROM ($unionAll) GROUP BY v ORDER BY s_suppkey""".stripMargin
  }

  /** Approximate neighborhood function — the HyperBall construction
    * (Boldi & Vigna 2013) with a KMV bottom-k sketch in place of the
    * HLL counter: per node, a sketch of the hashes of every node
    * within radius r, advanced one hop per round by MERGING each
    * node's neighbors' sketches (bottom-k unions are distributively
    * mergeable — one groupBy per round), with |ball_r(v)| estimated
    * by the KMV estimator. Unlike HyperBall's HLL registers, every
    * step here is exact integer arithmetic on a deterministic hash,
    * so the whole iteration — sketches AND estimates — replays
    * bit-for-bit in DuckDB.
    *
    * This is the scale path [[harmonicCentrality]] names: the exact
    * pair set Σ|ball| becomes O(|V|·k) sketch state per round, so
    * ball sizes (and radii) that would melt the exact BFS cost a
    * constant k longs per node. Emits one row per (node, radius ≤ R):
    * (v, r, k_used, kth, nb_est) where nb_est counts the ball
    * INCLUDING v itself.
    *
    *
    * Scale shape: per round one |E|-bounded join + one
    * map-side-combined sketch-merge aggregation; each node's own
    * sketch joins the same merge (the program's `withOld`, no separate
    * union-with-previous pass); state materializes per round. */
  def neighborhoodFunction(edges: DataFrame, radius: Int = 3, k: Int = 32): DataFrame = {
    require(radius >= 1, s"neighborhoodFunction: radius must be >= 1")
    require(k >= 1, s"neighborhoodFunction: k must be >= 1")
    graft.functions.ContentHashExpression.register(edges.sparkSession)
    val est =
      when(size(col("sk")) < k, size(col("sk")).cast("long"))
        .otherwise(expr(
          s"CAST((CAST(${k - 1} AS DECIMAL(38,0)) * CAST(4611686018427387904 AS DECIMAL(38,0)))" +
            " div CAST(element_at(sk, -1) AS DECIMAL(38,0)) AS BIGINT)"))
    VertexProgram.run(neighborhoodProgram(radius, k),
        edges.select(col("src"), col("dst")).filter(col("src") =!= col("dst")).distinct(),
        QuadraticCap)
      .select(col("v"), col("r"), size(col("sk")).cast("long").as("k_used"),
        element_at(col("sk"), -1).as("kth"), est.as("nb_est"))
  }

  /** HyperBall as a vertex program: each node's sketch starts as its
    * own 62-bit content hash; a round merges its out-neighbors'
    * sketches and its own, bottom-k, keeping every round. */
  private[graft] def neighborhoodProgram(radius: Int, k: Int): VertexProgram = {
    val h62 = shiftrightunsigned(
      graft.functions.ContentHashExpression.contentHash64(col("v").cast("string")), 2)
    VertexProgram("sk", radius, array(h62), col("sk"), Combine.BottomK(k),
      reverse = true, withOld = true, everyRound = true)
  }

  /** DuckDB oracle for [[neighborhoodFunction]] on the strong-tie
    * graph: the identical sketch recurrence with list operations —
    * `list_sort(list_distinct(flatten(list(sk))))[1:k]` IS the
    * bottom-k union — and the same integer estimator. */
  private[graft] def neighborhoodFunctionOracleSql(minW: Long, radius: Int,
                                                   k: Int): String = {
    import HashSql._
    val head =
      s"""WITH su AS (SELECT DISTINCT l_orderkey, l_suppkey FROM lineitem),
         |edges0 AS (SELECT a.l_suppkey AS src, b.l_suppkey AS dst, COUNT(*) AS w
         |  FROM su a JOIN su b ON a.l_orderkey = b.l_orderkey AND a.l_suppkey <> b.l_suppkey
         |  GROUP BY 1, 2),
         |e AS (SELECT DISTINCT src, dst FROM edges0 WHERE w >= $minW AND src <> dst),
         |n AS (SELECT DISTINCT src AS v FROM e),
         |es AS (SELECT src, dst FROM e UNION SELECT v, v FROM n),
         |f AS (SELECT v, ${fnv64("CAST(v AS VARCHAR)")} AS h FROM n),
         |m1 AS (SELECT v, ${mixStage1("h")} AS h FROM f),
         |m2 AS (SELECT v, ${mixStage2("h")} AS h FROM m1),
         |m3 AS (SELECT v, ${mixStage3("h")} AS h FROM m2),
         |hm AS (SELECT v, CAST(${mixStage4("h")} // 4 AS BIGINT) AS h FROM m3),
         |hb0 AS (SELECT v, [h] AS sk FROM hm)""".stripMargin
    val hops = (1 to radius).map { r =>
      s"""hb$r AS (SELECT es.src AS v,
         |    list_sort(list_distinct(flatten(list(sk))))[1:$k] AS sk
         |  FROM es JOIN hb${r - 1} p ON p.v = es.dst GROUP BY es.src)""".stripMargin
    }.mkString(",\n")
    val unions = (1 to radius).map { r =>
      s"""SELECT v, CAST($r AS BIGINT) AS r, CAST(len(sk) AS BIGINT) AS k_used,
         |  sk[len(sk)] AS kth,
         |  CAST(CASE WHEN len(sk) < $k THEN len(sk)
         |       ELSE (${k - 1} * CAST(4611686018427387904 AS HUGEINT))
         |            // CAST(sk[len(sk)] AS HUGEINT) END AS BIGINT) AS nb_est
         |FROM hb$r""".stripMargin
    }.mkString("\nUNION ALL\n")
    head + ",\n" + hops +
      s"\nSELECT v AS s_suppkey, r, k_used, kth, nb_est FROM ($unions)" +
      " ORDER BY r, s_suppkey"
  }

  /** Bounded-hop cheapest paths from a seed set — Bellman-Ford rounds
    * in the MIN-PLUS semiring (where pagerank/LPA iterate sum/argmax):
    * dist₀ = 0 on seeds; distₜ₊₁(v) = min(distₜ(v), min over in-edges
    * (distₜ(u) + cost(u,v))). Integer edge costs, so min-plus is
    * reduction-order-free and the result hash-exact. The pipeline
    * reading: cost = distance from trusted/curated seeds along a
    * weighted link graph (cheap edge = strong tie), the path-cost
    * sibling of [[personalizedPagerank]]'s walk-mass signal. Nodes
    * unreached within `hops` emit no row.
    *
    * Scale shape: per round one |E| join + one min aggregation over
    * (reached ∪ relaxed) — both bounded by |E|; the distance vector
    * references itself twice per round (keep + relax), so every
    * round materializes (the dedupGroups discipline, not pagerank's
    * every-5th: chaining here would square the plan per round). */
  def cheapestPaths(edges: DataFrame, isSeed: Column => Column,
                    hops: Int = 4): DataFrame = {
    require(hops >= 1, s"cheapestPaths: hops must be >= 1, got $hops")
    VertexProgram.run(cheapestProgram(isSeed, hops),
      edges.select(col("src"), col("dst"), col("cost").cast("long").as("w"))
        .filter(col("src") =!= col("dst")),
      LinearCap)
  }

  /** Min-plus relaxation from the seeds: a reached node offers
    * `cost + w` along each out-edge, and keeps the minimum of its own
    * cost and every offer. */
  private[graft] def cheapestProgram(isSeed: Column => Column, hops: Int): VertexProgram =
    VertexProgram("cost", hops, when(col("seed"), lit(0L)),
      col("cost") + col("w"), Combine.Min, seed = Some(isSeed), withOld = true)

  /** DuckDB oracle for [[cheapestPaths]] on the strong-tie graph with
    * cost = 1e6 div w and seeds `src % seedMod == 0`, hops unrolled. */
  private[graft] def cheapestPathsOracleSql(minW: Long, seedMod: Int,
                                            hops: Int): String = {
    val head =
      s"""WITH su AS (SELECT DISTINCT l_orderkey, l_suppkey FROM lineitem),
         |edges0 AS (SELECT a.l_suppkey AS src, b.l_suppkey AS dst, COUNT(*) AS w
         |  FROM su a JOIN su b ON a.l_orderkey = b.l_orderkey AND a.l_suppkey <> b.l_suppkey
         |  GROUP BY 1, 2),
         |e AS (SELECT src, dst, CAST(1000000 // w AS BIGINT) AS cost
         |  FROM edges0 WHERE w >= $minW AND src <> dst),
         |d0 AS (SELECT DISTINCT src AS v, CAST(0 AS BIGINT) AS c
         |  FROM e WHERE src % $seedMod = 0)""".stripMargin
    val rounds = (1 to hops).map { k =>
      s"""d$k AS (SELECT v, MIN(c) AS c FROM (
         |    SELECT v, c FROM d${k - 1}
         |    UNION ALL
         |    SELECT e.dst AS v, d.c + e.cost AS c
         |    FROM d${k - 1} d JOIN e ON e.src = d.v) GROUP BY v)""".stripMargin
    }.mkString(",\n")
    head + ",\n" + rounds +
      s"\nSELECT v AS s_suppkey, CAST(c AS BIGINT) AS path_cost FROM d$hops" +
      " ORDER BY path_cost, s_suppkey"
  }

  /** k-core extraction by iterative peeling: repeatedly remove nodes
    * of degree < k (with their edges) until no such node remains —
    * the densest-substructure filter link-graph pipelines use to
    * separate organically-linked cores from sparsely-attached spam
    * tendrils (a PageRank-orthogonal structure signal). Peeling is
    * CONFLUENT — the final core is independent of removal order — so
    * a fixed round count R ≥ the peel depth gives a deterministic,
    * engine-exact result: extra rounds are no-ops on both sides, and
    * convergence within R is asserted loudly (the dedupGroups
    * discipline — a silent partial peel would hand downstream keep
    * decisions a wrong core).
    *
    * Scale shape: per round one degree aggregation over the surviving
    * edges + one semi-join filter, both O(|E_t|) and SHRINKING
    * monotonically; edges materialize per round (each round
    * references the survivors twice). Returns (v, core_deg) for the
    * surviving nodes, core_deg = the node's degree inside the core. */
  def kCore(edges: DataFrame, k: Int, maxRounds: Int = 12): DataFrame = {
    require(k >= 1, s"kCore: k must be >= 1, got $k")
    val (e0, m0, local) = stage(undirected(edges), LinearCap)
    val stuck = s"kCore: did not converge within $maxRounds peel rounds — raise maxRounds"
    if (local) {
      // iterative peeling over the collected canonical edge set — the
      // round/convergence accounting mirrors the distributed loop
      import edges.sparkSession.implicits._
      var es = e0.as[(Long, Long)].collect().toSeq
      def degrees = (es.map(_._1) ++ es.map(_._2)).groupMapReduce(identity)(_ => 1L)(_ + _)
      var prev = -1
      var rounds = 0
      while (es.length != prev && rounds < maxRounds) {
        prev = es.length
        val keep = degrees.collect { case (v, d) if d >= k => v }.toSet
        es = es.filter { case (a, b) => keep(a) && keep(b) }
        rounds += 1
      }
      require(es.length == prev, stuck)
      return localResult(edges.sparkSession, longs("v", "core_deg"),
        degrees.map { case (v, d) => Row(v, d) }.toSeq)
    }
    // the materialize is eager, so ONE count() action per peel round
    // suffices — the previous round's count is a variable, not a job
    var e = e0
    var m = m0
    var prev = -1L
    var r = 0
    while (m != prev && r < maxRounds) {
      prev = m
      e = PartitionUtil.materializeConf(peelRound(e, k))
      m = e.count()
      r += 1
    }
    require(m == prev, stuck)
    nullable(e.select(col("a").as("v")).union(e.select(col("b").as("v")))
      .groupBy(col("v")).agg(count(lit(1)).as("core_deg")))
  }

  /** ONE k-core peel round, un-materialized (exposed for plan
    * audits): one degree aggregation over the surviving edges, then
    * BOTH endpoints filtered through the ≥k survivor set by two semi
    * joins — O(|E_t|), shrinking monotonically, no window, no
    * cartesian anywhere. */
  private[graft] def peelRound(e: DataFrame, k: Int): DataFrame = {
    val deg = e.select(col("a").as("v")).union(e.select(col("b").as("v")))
      .groupBy(col("v")).agg(count(lit(1)).as("d"))
    val keep = deg.filter(col("d") >= k).select(col("v"))
    e.join(keep.select(col("v").as("a")), Seq("a"), "left_semi")
      .join(keep.select(col("v").as("b")), Seq("b"), "left_semi")
      .select(col("a"), col("b"))
  }

  /** DuckDB oracle for [[kCore]] on the strong-tie graph: the same
    * peel unrolled to `rounds` CTEs (peeling is confluent, so extra
    * rounds are no-ops — the Spark side asserts convergence). */
  private[graft] def kCoreOracleSql(minW: Long, k: Int, rounds: Int): String = {
    val head =
      s"""WITH su AS (SELECT DISTINCT l_orderkey, l_suppkey FROM lineitem),
         |edges0 AS (SELECT a.l_suppkey AS src, b.l_suppkey AS dst, COUNT(*) AS w
         |  FROM su a JOIN su b ON a.l_orderkey = b.l_orderkey AND a.l_suppkey <> b.l_suppkey
         |  GROUP BY 1, 2),
         |e0 AS (SELECT DISTINCT LEAST(src, dst) AS a, GREATEST(src, dst) AS b
         |  FROM edges0 WHERE w >= $minW AND src <> dst)""".stripMargin
    // each round references the previous edge set three times, so the
    // CTEs must be MATERIALIZED — inlined, the plan (and the open
    // parquet handles) would grow 3^rounds
    val peels = (1 to rounds).map { t =>
      s"""k$t AS MATERIALIZED (SELECT v FROM (
         |    SELECT v, COUNT(*) AS d FROM (
         |      SELECT a AS v FROM e${t - 1} UNION ALL SELECT b FROM e${t - 1})
         |    GROUP BY v) WHERE d >= $k),
         |e$t AS MATERIALIZED (SELECT a, b FROM e${t - 1}
         |  WHERE a IN (SELECT v FROM k$t) AND b IN (SELECT v FROM k$t))""".stripMargin
    }.mkString(",\n")
    head + ",\n" + peels +
      s"""\nSELECT v AS s_suppkey, COUNT(*) AS core_deg FROM (
         |  SELECT a AS v FROM e$rounds UNION ALL SELECT b FROM e$rounds)
         |GROUP BY v ORDER BY core_deg DESC, s_suppkey""".stripMargin
  }

  /** DuckDB oracle for [[triangleCounts]] over the supplier
    * co-occurrence graph: the same canonicalization and wedge-close
    * joins, spelled as an independent triple join. */
  private[graft] def triangleCountsOracleSql(minW: Long): String =
    s"""WITH su AS (SELECT DISTINCT l_orderkey, l_suppkey FROM lineitem),
       |edges AS (SELECT a.l_suppkey AS src, b.l_suppkey AS dst, COUNT(*) AS w
       |  FROM su a JOIN su b ON a.l_orderkey = b.l_orderkey AND a.l_suppkey <> b.l_suppkey
       |  GROUP BY 1, 2),
       |e AS (SELECT DISTINCT LEAST(src, dst) AS a, GREATEST(src, dst) AS b
       |  FROM edges WHERE w >= $minW),
       |tri AS (SELECT e1.a, e1.b AS m, e2.b AS c
       |  FROM e e1 JOIN e e2 ON e2.a = e1.b
       |  WHERE EXISTS (SELECT 1 FROM e e3 WHERE e3.a = e1.a AND e3.b = e2.b)),
       |corners AS (SELECT a AS v FROM tri UNION ALL SELECT m FROM tri UNION ALL SELECT c FROM tri)
       |SELECT v AS s_suppkey, COUNT(*) AS n_triangles FROM corners
       |GROUP BY v ORDER BY n_triangles DESC, s_suppkey""".stripMargin

  /** Synchronous weighted label propagation (community detection —
    * the topical-grouping signal over a link/co-occurrence graph):
    * labels start as node ids; each round every node adopts the label
    * with the greatest incident edge weight among its neighbors, ties
    * to the SMALLEST label — fully deterministic, no RNG, no
    * order-dependence (weighted sums are exact integer adds).
    * Synchronous LPA can oscillate on bipartite structures, so the
    * round count is FIXED (no convergence claim) — the standard
    * deterministic variant.
    *
    * Scale shape: per round, one equi-join of the label vector on
    * `dst` and one (v, label) weight aggregation + argmax, all
    * bounded by |E|. Like pagerank's, the round chain is
    * reference-free (the edge relation and the seed labels are both
    * materialized), so the label vector checkpoints every 5th round
    * and at the end — bounded plan depth without a per-round job. */
  def labelPropagation(edges: DataFrame, iters: Int = 5): DataFrame =
    VertexProgram.run(lpaProgram(iters), weighted(edges), LinearCap)

  /** Each node adopts the label its out-neighbors carry with the most
    * total edge weight, ties to the smallest label. */
  private[graft] def lpaProgram(iters: Int): VertexProgram =
    VertexProgram("label", iters, col("v"), col("label"), Combine.Mode(col("w")),
      reverse = true)

  /** DuckDB oracle for [[labelPropagation]] on the strong-tie supplier
    * graph: the same recurrence unrolled, argmax as ROW_NUMBER over
    * (wt DESC, label ASC) — the independent spelling of the
    * struct-min. */
  private def lpaCtes(minW: Long, iters: Int): String = {
    val head =
      s"""WITH su AS (SELECT DISTINCT l_orderkey, l_suppkey FROM lineitem),
         |edges0 AS (SELECT a.l_suppkey AS src, b.l_suppkey AS dst, COUNT(*) AS w
         |  FROM su a JOIN su b ON a.l_orderkey = b.l_orderkey AND a.l_suppkey <> b.l_suppkey
         |  GROUP BY 1, 2),
         |edges AS (SELECT src, dst, CAST(w AS BIGINT) AS w FROM edges0 WHERE w >= $minW),
         |l0 AS (SELECT DISTINCT src AS v, src AS label FROM edges)""".stripMargin
    val iterCtes = (1 to iters).map { k =>
      s"""l$k AS MATERIALIZED (SELECT src AS v, label FROM (
         |    SELECT e.src, l.label, SUM(e.w) AS wt,
         |      ROW_NUMBER() OVER (PARTITION BY e.src ORDER BY SUM(e.w) DESC, l.label ASC) AS rn
         |    FROM edges e JOIN l${k - 1} l ON l.v = e.dst
         |    GROUP BY e.src, l.label) WHERE rn = 1)""".stripMargin
    }.mkString(",\n")
    head + ",\n" + iterCtes
  }

  private[graft] def labelPropagationOracleSql(minW: Long, iters: Int): String =
    lpaCtes(minW, iters) +
      s"\nSELECT v AS s_suppkey, CAST(label AS BIGINT) AS community FROM l$iters ORDER BY community, s_suppkey"

  /** Community quality audit over [[labelPropagation]]'s partition —
    * per community: node count, internal (within-community) edges of
    * the undirected simple graph, degree sum, and the EXACT integer
    * modularity numerator `4·m·internal − degree_sum²` (the community
    * contribution to Newman modularity is that value over the shared
    * denominator 4m², left implicit so every emitted number is an
    * exact BIGINT — no float, no signed integer-division divergence
    * between engines). At extreme edge counts (m ≳ 2^31) the square
    * needs DECIMAL headroom; the TPC-H co-occurrence graphs sit far
    * below that.
    *
    * Scale shape: one LPA run (the q127 machinery, same knobs), then
    * two |E|-bounded joins label the undirected edge list's endpoints
    * and two map-side-combined per-community aggregations. The m
    * scalar is a single driver pull. */
  def communityModularity(edges: DataFrame, iters: Int): DataFrame = {
    val ec = PartitionUtil.materializeConf(weighted(edges))
    val labels = labelPropagation(ec, iters)
    val und = undirected(ec).persist()
    val m = und.count()
    val deg = und.select(col("a").as("v")).union(und.select(col("b").as("v")))
      .groupBy(col("v")).agg(count(lit(1)).as("deg"))
    val comm = labels.join(deg, Seq("v"))
      .groupBy(col("label").as("community"))
      .agg(count(lit(1)).as("n_nodes"), sum(col("deg")).as("degree_sum"))
    val la = labels.select(col("v").as("a"), col("label").as("la"))
    val lb = labels.select(col("v").as("b"), col("label").as("lb"))
    val intra = und.join(la, Seq("a")).join(lb, Seq("b"))
      .filter(col("la") === col("lb"))
      .groupBy(col("la").as("community"))
      .agg(count(lit(1)).as("internal_edges"))
    // und stays cached: the caller's action re-reads it through three
    // branches (deg, intra); it is |E|-bounded and LRU-reclaimable
    comm.join(intra, Seq("community"), "left")
      .select(col("community").cast("long").as("community"), col("n_nodes"),
        coalesce(col("internal_edges"), lit(0L)).as("internal_edges"),
        col("degree_sum"),
        (lit(4L * m) * coalesce(col("internal_edges"), lit(0L)) -
          col("degree_sum") * col("degree_sum")).as("q_num"))
      .orderBy(col("community"))
  }

  /** DuckDB oracle for [[communityModularity]]: the LPA chain plus the
    * same undirected edge set, degree sums, and integer numerator. */
  private[graft] def communityModularityOracleSql(minW: Long, iters: Int): String =
    lpaCtes(minW, iters) +
      s""",
         |und AS MATERIALIZED (SELECT DISTINCT LEAST(src, dst) AS a, GREATEST(src, dst) AS b
         |  FROM edges WHERE src <> dst),
         |mm AS (SELECT COUNT(*) AS m FROM und),
         |deg AS (SELECT v, COUNT(*) AS deg FROM
         |  (SELECT a AS v FROM und UNION ALL SELECT b FROM und) GROUP BY v),
         |comm AS (SELECT l.label AS community, COUNT(*) AS n_nodes,
         |    CAST(SUM(d.deg) AS BIGINT) AS degree_sum
         |  FROM l$iters l JOIN deg d USING (v) GROUP BY l.label),
         |intra AS (SELECT la.label AS community, COUNT(*) AS internal_edges
         |  FROM und u JOIN l$iters la ON la.v = u.a JOIN l$iters lb ON lb.v = u.b
         |  WHERE la.label = lb.label GROUP BY la.label)
         |SELECT CAST(c.community AS BIGINT) AS community, c.n_nodes,
         |  COALESCE(i.internal_edges, 0) AS internal_edges, c.degree_sum,
         |  4 * (SELECT m FROM mm) * COALESCE(i.internal_edges, 0)
         |    - c.degree_sum * c.degree_sum AS q_num
         |FROM comm c LEFT JOIN intra i USING (community)
         |ORDER BY community""".stripMargin

  /** Local clustering coefficient, exact rational: per node, triangle
    * count T and degree d over the undirected edge set; the
    * coefficient 2T / (d·(d−1)) is emitted as an integer-div
    * quantization (1e6 grid) plus its exact (T, d) numerator inputs —
    * no floating point anywhere. Nodes with d < 2 report 0. */
  def clusteringCoefficient(edges: DataFrame): DataFrame = {
    // materialize the (possibly expensive) edge construction ONCE —
    // both the degree aggregation and the triangle count read it
    val ec = PartitionUtil.materializeConf(edges)
    val e = undirected(ec)
    val deg = e.select(col("a").as("v")).union(e.select(col("b").as("v")))
      .groupBy(col("v")).agg(count(lit(1)).as("deg"))
    deg.join(triangleCounts(ec), Seq("v"), "left")
      .select(col("v"), col("deg"),
        coalesce(col("n_triangles"), lit(0L)).as("n_triangles"))
      .withColumn("cc_q6",
        when(col("deg") < 2, lit(0L)).otherwise(
          expr("(2000000 * n_triangles) div (deg * (deg - 1))")))
  }

  /** DuckDB oracle for [[clusteringCoefficient]] on the strong-tie
    * graph (same `//` integer grid division). */
  private[graft] def clusteringCoefficientOracleSql(minW: Long): String =
    s"""WITH su AS (SELECT DISTINCT l_orderkey, l_suppkey FROM lineitem),
       |edges AS (SELECT a.l_suppkey AS src, b.l_suppkey AS dst, COUNT(*) AS w
       |  FROM su a JOIN su b ON a.l_orderkey = b.l_orderkey AND a.l_suppkey <> b.l_suppkey
       |  GROUP BY 1, 2),
       |e AS (SELECT DISTINCT LEAST(src, dst) AS a, GREATEST(src, dst) AS b
       |  FROM edges WHERE w >= $minW),
       |deg AS (SELECT v, COUNT(*) AS deg FROM (
       |  SELECT a AS v FROM e UNION ALL SELECT b FROM e) GROUP BY v),
       |tri AS (SELECT e1.a, e1.b AS m, e2.b AS c
       |  FROM e e1 JOIN e e2 ON e2.a = e1.b
       |  WHERE EXISTS (SELECT 1 FROM e e3 WHERE e3.a = e1.a AND e3.b = e2.b)),
       |tc AS (SELECT v, COUNT(*) AS n_triangles FROM (
       |  SELECT a AS v FROM tri UNION ALL SELECT m FROM tri UNION ALL SELECT c FROM tri)
       |  GROUP BY v)
       |SELECT d.v AS s_suppkey, CAST(d.deg AS BIGINT) AS deg,
       |  CAST(COALESCE(tc.n_triangles, 0) AS BIGINT) AS n_triangles,
       |  CAST(CASE WHEN d.deg < 2 THEN 0
       |       ELSE (2000000 * CAST(COALESCE(tc.n_triangles, 0) AS BIGINT)) // (d.deg * (d.deg - 1))
       |  END AS BIGINT) AS cc_q6
       |FROM deg d LEFT JOIN tc ON tc.v = d.v
       |ORDER BY s_suppkey""".stripMargin

  /** DuckDB oracle: the identical integer recurrence, unrolled to
    * `iters` CTEs (standard SQL forbids aggregation in a recursive
    * term, so a fixed unroll is the portable formulation). `//` is
    * floor division — identical to Spark's `div` truncation for the
    * non-negative operands here. */
  private[graft] def pagerankOracleSql(iters: Int): String = {
    val n = "(SELECT cnt FROM nn)"
    val head =
      s"""WITH su AS (SELECT DISTINCT l_orderkey, l_suppkey FROM lineitem),
         |edges AS (SELECT a.l_suppkey AS src, b.l_suppkey AS dst, COUNT(*) AS w
         |  FROM su a JOIN su b ON a.l_orderkey = b.l_orderkey AND a.l_suppkey <> b.l_suppkey
         |  GROUP BY 1, 2),
         |outw AS (SELECT src, CAST(SUM(w) AS BIGINT) AS ow FROM edges GROUP BY src),
         |nn AS (SELECT COUNT(*) AS cnt FROM outw),
         |r0 AS (SELECT src AS v, CAST($Scale AS BIGINT) // $n AS rank FROM outw)""".stripMargin
    val iterCtes = (1 to iters).map { k =>
      s"""r$k AS (SELECT o.src AS v,
         |  (3 * CAST($Scale AS BIGINT)) // (20 * $n)
         |  + (17 * COALESCE(CAST(c.sc AS BIGINT), 0)) // 20 AS rank
         |  FROM outw o LEFT JOIN (
         |    SELECT e.dst, SUM((r.rank * e.w) // eo.ow) AS sc
         |    FROM edges e JOIN r${k - 1} r ON r.v = e.src JOIN outw eo ON eo.src = e.src
         |    GROUP BY e.dst) c ON c.dst = o.src)""".stripMargin
    }.mkString(",\n")
    head + ",\n" + iterCtes +
      s"\nSELECT v AS s_suppkey, CAST(rank AS BIGINT) AS rank_scaled FROM r$iters ORDER BY rank_scaled DESC, v"
  }

  /** Link prediction over an undirected graph: for every NON-adjacent
    * pair with at least one common neighbour, the three classic
    * integer-exact indices — common-neighbour count, Jaccard
    * (|N(a)∩N(b)| / |N(a)∪N(b)|, 1e6 grid) and resource allocation
    * (Σ_z 1/deg(z) over common neighbours z, 1e6 grid; Zhou, Lü &
    * Zhang 2009 — the RA index is Adamic-Adar with 1/d in place of
    * 1/log d, which keeps it on the integer grid). Top `topK` pairs
    * by (cn, ra, pair id), a total order.
    *
    * Scale shape: candidate pairs come from wedges through a common
    * MIDDLE, so the join volume is Σ_m C(deg(m), 2) — inherently
    * quadratic in hub degree, the one graph pattern degree-ordering
    * cannot fix (both spokes are needed). The standard production
    * guard is `maxMiddleDegree`: middles above the cap are dropped
    * from candidate GENERATION (their RA contribution 1/deg is
    * negligible by construction; full degrees still drive the Jaccard
    * denominator). The wedge shuffle is then ≤ cap·|E|, map-side
    * combined on (a, b); everything else is |V|-sized joins. The cap
    * is part of the operator's CONTRACT (the oracle applies the same
    * cap), not a silent truncation — [[linkWedgeVolume]] measures
    * what a cap admits and ScaleProbe reports it on a hub graph. */
  def linkPrediction(edges: DataFrame, maxMiddleDegree: Long, topK: Int): DataFrame = {
    require(maxMiddleDegree >= 2 && topK >= 1, "cap >= 2 and topK >= 1")
    val (e, _, local) = stage(undirected(edges), QuadraticCap)
    if (local) {
      // same capped wedge generation, integer indices, and
      // (cn desc, ra desc, a, b) total order
      import edges.sparkSession.implicits._
      val ewArr = e.as[(Long, Long)].collect()
      val edgeSet = ewArr.toSet
      val adjM = (ewArr ++ ewArr.map(_.swap))
        .groupBy(_._1).view.mapValues(_.map(_._2).sorted).toMap
      val deg = adjM.view.mapValues(_.length.toLong).toMap
      val cn = new java.util.HashMap[(Long, Long), Long]()
      val ra = new java.util.HashMap[(Long, Long), Long]()
      for ((mid, ns) <- adjM if deg(mid) <= maxMiddleDegree;
           i <- ns.indices; j <- i + 1 until ns.length) {
        val key = (ns(i), ns(j))
        cn.merge(key, 1L, (x, y) => x + y)
        ra.merge(key, 1000000L / deg(mid), (x, y) => x + y)
      }
      val rows = cn.asScala.collect { case (key @ (a, b), c) if !edgeSet(key) =>
        Array(a, b, c, 1000000L * c / (deg(a) + deg(b) - c), ra.get(key))
      }
      val top = rows.toSeq.sortBy(r => (-r(2), -r(4), r(0), r(1))).take(topK)
      return localResult(edges.sparkSession, longs("a", "b", "cn", "jaccard_q6", "ra_q6"),
        top.map(r => Row.fromSeq(r.toSeq)))
    }
    val adj = e.select(col("a").as("u"), col("b").as("z"))
      .union(e.select(col("b").as("u"), col("a").as("z")))
    val deg = adj.groupBy(col("u")).agg(count(lit(1)).as("d"))
    // neighbours grouped by middle, hubs above the cap dropped loudly
    // at generation time (contract knob, mirrored in the oracle)
    val nbm = adj.select(col("u").as("m"), col("z").as("n"))
      .join(deg.select(col("u").as("m"), col("d").as("dm")), Seq("m"))
      .filter(col("dm") <= maxMiddleDegree)
    val wedges = nbm.select(col("m"), col("n").as("a"), col("dm"))
      .join(nbm.select(col("m"), col("n").as("b")), Seq("m"))
      .filter(col("a") < col("b"))
    val cand = wedges.groupBy(col("a"), col("b"))
      .agg(count(lit(1)).as("cn"), sum(expr("1000000 div dm")).as("ra_q6"))
      .join(e, Seq("a", "b"), "left_anti") // score only MISSING links
    nullable(cand
      .join(deg.select(col("u").as("a"), col("d").as("da")), Seq("a"))
      .join(deg.select(col("u").as("b"), col("d").as("db")), Seq("b"))
      .select(col("a"), col("b"), col("cn"),
        expr("1000000 * cn div (da + db - cn)").as("jaccard_q6"), col("ra_q6"))
      .orderBy(col("cn").desc, col("ra_q6").desc, col("a"), col("b"))
      .limit(topK))
  }

  /** Diagnostic for [[linkPrediction]]'s cap: the wedge volume
    * Σ_m C(deg(m), 2) over middles with deg ≤ cap (cap ≤ 0 → no
    * cap). The ScaleProbe hub row reports capped vs uncapped. */
  def linkWedgeVolume(edges: DataFrame, cap: Long): Long = {
    val e = undirected(edges)
    val deg = e.select(col("a").as("v")).union(e.select(col("b").as("v")))
      .groupBy(col("v")).agg(count(lit(1)).as("d"))
    val kept = if (cap <= 0) deg else deg.filter(col("d") <= cap)
    val r = kept.agg(sum(expr("d * (d - 1) div 2")).as("wedges")).head()
    if (r.isNullAt(0)) 0L else r.getLong(0)
  }

  /** DuckDB oracle for [[linkPrediction]] on the strong-tie supplier
    * graph — same canonical edges, same cap, same integer grids. */
  private[graft] def linkPredictionOracleSql(minW: Long, cap: Long, topK: Int): String =
    s"""WITH su AS (SELECT DISTINCT l_orderkey, l_suppkey FROM lineitem),
       |edges AS (SELECT a.l_suppkey AS src, b.l_suppkey AS dst, COUNT(*) AS w
       |  FROM su a JOIN su b ON a.l_orderkey = b.l_orderkey AND a.l_suppkey <> b.l_suppkey
       |  GROUP BY 1, 2),
       |e AS (SELECT DISTINCT LEAST(src, dst) AS a, GREATEST(src, dst) AS b
       |  FROM edges WHERE w >= $minW),
       |adj AS (SELECT a AS u, b AS z FROM e UNION ALL SELECT b, a FROM e),
       |deg AS (SELECT u, COUNT(*) AS d FROM adj GROUP BY 1),
       |nbm AS (SELECT adj.u AS m, adj.z AS n, deg.d AS dm
       |  FROM adj JOIN deg ON deg.u = adj.u WHERE deg.d <= $cap),
       |wedges AS (SELECT x.n AS a, y.n AS b, x.dm
       |  FROM nbm x JOIN nbm y ON x.m = y.m AND x.n < y.n),
       |cand AS (SELECT a, b, COUNT(*) AS cn, SUM(1000000 // dm) AS ra_q6
       |  FROM wedges GROUP BY 1, 2),
       |missing AS (SELECT c.* FROM cand c
       |  WHERE NOT EXISTS (SELECT 1 FROM e WHERE e.a = c.a AND e.b = c.b))
       |SELECT m.a, m.b, CAST(m.cn AS BIGINT) AS cn,
       |  CAST(1000000 * m.cn // (da.d + db.d - m.cn) AS BIGINT) AS jaccard_q6,
       |  CAST(m.ra_q6 AS BIGINT) AS ra_q6
       |FROM missing m JOIN deg da ON da.u = m.a JOIN deg db ON db.u = m.b
       |ORDER BY cn DESC, ra_q6 DESC, a, b LIMIT $topK""".stripMargin
}
