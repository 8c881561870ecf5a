package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{MutableProjection, SpecificInternalRow, UnsafeArrayData}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.catalyst.optimizer.ReplaceExpressions
import org.apache.spark.sql.catalyst.plans.logical.Project
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.functions.KmvMergeAggregator

/** How the messages reaching one vertex combine into its `m`: each case
  * is one Spark aggregate on the cluster and one reduce on the driver. */
sealed trait Combine
object Combine {
  case object Sum extends Combine
  case object Min extends Combine
  /** Sum `weight` per (vertex, message), then take the message with the
    * largest weight, ties to the smallest message. */
  final case class Mode(weight: Column) extends Combine
  /** Bottom-k union of sorted KMV sketches ([[KmvMergeAggregator]]). */
  final case class BottomK(k: Int) extends Combine
}

/** One iterative graph operator over Long vertex ids, in the GraphX
  * Pregel / `aggregateMessages` shape. Nodes are the distinct edge
  * sources; `seed` flags some of them. Every node starts at `init`
  * (over `v`, `seed`, and the graph's node and seed counts `n` and
  * `seeds`; null = no state yet). Each of `rounds` synchronous rounds
  * sends `message` along every edge whose sender holds a state — an
  * expression over the edge columns, the sender's state column and
  * `ow`, the sender's sum of `outWeight` — combines the messages per
  * receiver into `m`, and sets the receiver's state to `update` (over
  * `v`, `m`, `n`, `seeds` and, when `keepAll`, `seed`). A null message
  * or state counts as none.
  *
  * Flags: `reverse` sends from `dst` to `src`; `withOld` feeds each
  * vertex's own state into its combine; `keepAll` keeps a row for
  * every node, messages or not (otherwise a vertex without messages
  * drops out); `everyRound` returns each round's states with a round
  * number `r` instead of only the last.
  *
  * [[VertexProgram.run]] runs the same definition in one of two venues:
  * on the driver when the materialized edges fit the cap — ids
  * densified once into a CSR of primitive arrays, each Column bound
  * once to its row layout and evaluated per edge with no Spark job —
  * or on the cluster, one state join plus one combine aggregation per
  * round. Both return the same schema. */
final case class VertexProgram(
    state: String,
    rounds: Int,
    init: Column,
    message: Column,
    combine: Combine,
    update: Column = col("m"),
    seed: Option[Column => Column] = None,
    outWeight: Option[Column] = None,
    reverse: Boolean = false,
    withOld: Boolean = false,
    keepAll: Boolean = false,
    everyRound: Boolean = false) {
  private[graft] val (from, to) = if (reverse) ("dst", "src") else ("src", "dst")
}

object VertexProgram {

  /** Runs `p` over `edges` (`src`, `dst` and BIGINT edge columns):
    * materialized once, then on the driver when they fit `cap`. */
  def run(p: VertexProgram, edges: DataFrame, cap: (String, Long)): DataFrame = {
    val (e, _, local) = Graph.stage(edges, cap)
    if (local) onDriver(p, e) else onCluster(p, e)
  }

  /** The cluster plans of `p` over `nodes` (v [, seed]) and `edges` (the
    * edge columns [, ow] [, the receiver's seed when `ride`]). `ride`
    * holds when every node receives a message, so the receiver's seed
    * rides on the edges and a round is one join plus one aggregation;
    * otherwise a `keepAll` round left-joins the combine onto `nodes`. */
  private[graft] final class Plans(p: VertexProgram, sizes: Map[String, Column], ride: Boolean,
                                   nodes: DataFrame, val edges: DataFrame) {
    private def settle(df: DataFrame) = df.filter(col(p.state).isNotNull)
    private val rideSeed = p.seed.filter(_ => ride).map(_ => col("seed")).toSeq

    def init: DataFrame = settle(nodes.withColumns(sizes).select(col("v"), p.init.as(p.state)))

    def round(state: DataFrame): DataFrame = {
      val weight = Seq(p.combine).collect { case Combine.Mode(w) => w.as("wt") }
      val sent = edges.join(state.select(col("v").as(p.from), col(p.state)), Seq(p.from))
        .select(Seq(col(p.to).as("v"), p.message.as("msg")) ++ weight ++ rideSeed: _*)
      val all =
        if (p.withOld) sent.unionByName(state.select(col("v"), col(p.state).as("msg")))
        else sent
      def agg(m: Column) = all.groupBy(col("v")).agg(m.as("m"), rideSeed.map(max(_).as("seed")): _*)
      val combined = p.combine match {
        case Combine.Sum => agg(sum(col("msg")))
        case Combine.Min => agg(min(col("msg")))
        case Combine.BottomK(k) => agg(udaf(new KmvMergeAggregator(k)).apply(col("msg")))
        case Combine.Mode(_) =>
          all.groupBy(col("v"), col("msg")).agg(sum(col("wt")).as("wt"))
            .groupBy(col("v")).agg(min(struct((-col("wt")).as("nw"), col("msg"))).as("mm"))
            .select(col("v"), col("mm.msg").as("m"))
      }
      val joined = if (p.keepAll && !ride) nodes.join(combined, Seq("v"), "left") else combined
      settle(joined.withColumns(sizes).select(col("v"), p.update.as(p.state)))
    }

    def output(states: Seq[DataFrame]): DataFrame =
      if (!p.everyRound) states.last
      else states.zipWithIndex.map { case (s, i) => s.withColumn("r", lit(i + 1L)) }
        .reduce(_ unionByName _)
  }

  /** Cluster venue. Edges are hash-partitioned on the sender and
    * persisted once (an InMemoryRelation keeps its partitioning, a
    * checkpoint does not), so each round's join shuffles only the
    * state. The state materializes every round when a round reads it
    * twice (`withOld`), else every 5th round and at the end. */
  private def onCluster(p: VertexProgram, e: DataFrame): DataFrame = {
    val plans = clusterPlans(p, e)
    var state = plans.init
    val states = (1 to p.rounds).map { k =>
      state = plans.round(state)
      if (p.withOld || k % 5 == 0 || k == p.rounds) state = PartitionUtil.materializeConf(state)
      state
    }
    plans.edges.unpersist(false)
    Graph.nullable(plans.output(states))
  }

  /** The result schema of `p` in both venues: `v`, the state and, with
    * `everyRound`, the round `r`; every column nullable. */
  private def schemaOf(p: VertexProgram): StructType = {
    val state = p.combine match {
      case Combine.BottomK(_) => ArrayType(LongType, containsNull = false)
      case _ => LongType
    }
    StructType(Seq(StructField("v", LongType), StructField(p.state, state)) ++
      Seq(StructField("r", LongType)).filter(_ => p.everyRound))
  }

  private def check(p: VertexProgram, seeds: Long): Unit =
    require(p.seed.isEmpty || seeds > 0, s"${p.state}: seed predicate matched no node")

  /** The cluster plans of `p` over the materialized edges `e`. */
  private[graft] def clusterPlans(p: VertexProgram, e: DataFrame): Plans = {
    val v = e.select(col("src").as("v")).distinct()
    val nodes = PartitionUtil.materializeConf(
      p.seed.fold(v)(f => v.withColumn("seed", f(col("v")).cast("boolean"))))
    val s = nodes.select(col("v"), lit(1).as("node"),
        (if (p.seed.isEmpty) lit(false) else col("seed")).as("s"))
      .join(e.select(col(p.to).as("v")).distinct().withColumn("recv", lit(1)), Seq("v"), "full")
      .agg(count(col("node")), count(when(col("s"), 1)),
        count(when(col("node").isNull || col("recv").isNull, 1))).head()
    check(p, s.getLong(1))
    val ride = p.keepAll && s.getLong(2) == 0L
    val ew = p.outWeight.fold(e)(w =>
      e.join(e.groupBy(col(p.from)).agg(sum(w).as("ow")), Seq(p.from)))
    val edges = p.seed.filter(_ => ride).fold(ew)(f => ew.withColumn("seed", f(col(p.to)).cast("boolean")))
      .repartition(e.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt, col(p.from))
      .persist()
    edges.count()
    new Plans(p, Map("n" -> lit(s.getLong(0)), "seeds" -> lit(s.getLong(1))), ride, nodes, edges)
  }

  /** Binds `cols` once to rows laid out as `schema`: one analysis, then
    * one projection per column, evaluated on the driver without a job. */
  private def bind(spark: SparkSession, schema: StructType, cols: Column*): Seq[MutableProjection] = {
    val Project(list, child) = ReplaceExpressions(spark.createDataFrame(java.util.List.of[Row](), schema)
      .select(cols: _*).queryExecution.analyzed)
    list.map { x =>
      val proj = MutableProjection.create(Seq(x), child.output)
      proj.initialize(0)
      proj
    }
  }

  /** Sorts `a` in place and compacts its distinct values to the front. */
  private def distinct(a: Array[Long], n: Int): Int = {
    java.util.Arrays.sort(a, 0, n)
    var m = 0
    for (i <- 0 until n) if (m == 0 || a(i) != a(m - 1)) { a(m) = a(i); m += 1 }
    m
  }

  /** The driver's array reduce of each combine over one receiver's
    * `n > 0` messages: BIGINTs `x` (weights `w`) or sketches `a`. */
  private def reduce(c: Combine, x: Array[Long], w: Array[Long],
                     a: Array[Array[Long]], n: Int): Any = c match {
    case Combine.Sum => java.util.Arrays.stream(x, 0, n).sum()
    case Combine.Min => java.util.Arrays.stream(x, 0, n).min().getAsLong
    case Combine.BottomK(k) =>
      val kmv = new KmvMergeAggregator(k)
      UnsafeArrayData.fromPrimitiveArray((0 until n).foldLeft(kmv.zero)((s, i) => kmv.reduce(s, a(i))))
    case Combine.Mode(_) =>
      val u = java.util.Arrays.copyOf(x, n)
      val m = distinct(u, n)
      val ws = new Array[Long](m)
      for (i <- 0 until n) ws(java.util.Arrays.binarySearch(u, 0, m, x(i))) += w(i)
      var best = 0
      for (i <- 1 until m) if (ws(i) > ws(best)) best = i
      u(best)
  }

  /** Driver venue: the same Columns, bound once, over a CSR by
    * receiver. A state is a BIGINT or a sketch, null when absent. */
  private[graft] def onDriver(p: VertexProgram, e: DataFrame): DataFrame = {
    val rows = e.collect()
    val cols = e.columns.indices.map(c => rows.map(_.getLong(c))).toArray
    val ids = cols(0) ++ cols(1)
    val nv = distinct(ids, ids.length)
    val Array(si, di) = cols.take(2).map(_.map(java.util.Arrays.binarySearch(ids, 0, nv, _)))
    val (from, to) = if (p.reverse) (di, si) else (si, di)
    val node, recv, seed = new Array[Boolean](nv)
    si.foreach(node(_) = true)
    to.foreach(recv(_) = true)
    // one row layout for every bound Column: the edge columns, `ow`,
    // the sender's state, the vertex's `v`, `seed` and `m`, and the
    // graph's `n` and `seeds`
    val stType = schemaOf(p)(p.state).dataType
    val layout = StructType(e.schema.fields ++ p.outWeight.map(_ => StructField("ow", LongType)) ++
      Seq(StructField(p.state, stType), StructField("v", LongType), StructField("seed", BooleanType),
        StructField("m", stType), StructField("n", LongType), StructField("seeds", LongType)))
    val Seq(iOw, iState, iV, iSeed, iM, iN, iSeeds) =
      Seq("ow", p.state, "v", "seed", "m", "n", "seeds").map(layout.fieldNames.indexOf(_))
    val row = new SpecificInternalRow(layout.map(_.dataType))
    def vertex(i: Int): InternalRow = {
      row.setLong(iV, ids(i))
      row.setBoolean(iSeed, seed(i))
      row
    }
    val ow = new Array[Long](nv)
    def edge(j: Int): InternalRow = {
      for (c <- cols.indices) row.setLong(c, cols(c)(j))
      if (iOw >= 0) row.setLong(iOw, ow(from(j)))
      row
    }
    val isSeed +: weigh +: start +: step +: send +: weight =
      bind(e.sparkSession, layout, Seq(coalesce(p.seed.fold(lit(false))(_(col("v")).cast("boolean")), lit(false)),
        p.outWeight.getOrElse(lit(0L)), p.init, p.update, p.message) ++
        Seq(p.combine).collect { case Combine.Mode(w) => w }: _*)
    for (i <- 0 until nv if node(i)) seed(i) = isSeed(vertex(i)).getBoolean(0)
    if (p.outWeight.nonEmpty) for (j <- rows.indices) ow(from(j)) += weigh(edge(j)).getLong(0)
    val seeds = (0 until nv).count(i => node(i) && seed(i))
    check(p, seeds)
    row.setLong(iN, node.count(identity))
    row.setLong(iSeeds, seeds)
    def value(o: InternalRow): Any = if (o.isNullAt(0)) null else o.get(0, stType)
    var st = Array.tabulate[Any](nv)(i => if (node(i)) value(start(vertex(i))) else null)
    val off = new Array[Int](nv + 1)
    to.foreach(t => off(t + 1) += 1)
    for (i <- 0 until nv) off(i + 1) += off(i)
    val order = new Array[Int](rows.length)
    val fill = off.clone()
    for (j <- rows.indices) { order(fill(to(j))) = j; fill(to(j)) += 1 }
    val maxIn = (0 until nv).map(i => off(i + 1) - off(i)).maxOption.getOrElse(0) + 1
    val (xs, ws, as) = (new Array[Long](maxIn), new Array[Long](maxIn), new Array[Array[Long]](maxIn))
    val sketch = p.combine.isInstanceOf[Combine.BottomK]
    val out = scala.collection.mutable.ArrayBuffer.empty[Row]
    for (k <- 1 to p.rounds) {
      val next = new Array[Any](nv)
      for (r <- 0 until nv) {
        var n = 0
        var received = false
        for (x <- off(r) until off(r + 1)) {
          val j = order(x)
          val s = from(j)
          if (st(s) != null) {
            received = true
            edge(j).update(iState, st(s))
            val o = send(row)
            if (!o.isNullAt(0)) {
              if (sketch) as(n) = o.getArray(0).toLongArray() else xs(n) = o.getLong(0)
              weight.foreach(w => ws(n) = w(row).getLong(0))
              n += 1
            }
          }
        }
        if (p.withOld && st(r) != null) {
          received = true
          st(r) match {
            case a: ArrayData => as(n) = a.toLongArray()
            case x => xs(n) = x.asInstanceOf[Long]
          }
          n += 1
        }
        if (if (p.keepAll) node(r) else received) {
          vertex(r).update(iM, if (n == 0) null else reduce(p.combine, xs, ws, as, n))
          next(r) = value(step(row))
        }
      }
      st = next
      if (p.everyRound || k == p.rounds)
        for (i <- 0 until nv if st(i) != null) {
          val x = st(i) match {
            case a: ArrayData => a.toLongArray()
            case x => x
          }
          out += (if (p.everyRound) Row(ids(i), x, k.toLong) else Row(ids(i), x))
        }
    }
    Graph.localResult(e.sparkSession, schemaOf(p), out.toSeq)
  }
}
