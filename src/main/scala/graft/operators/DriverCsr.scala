package graft.operators

import org.apache.spark.internal.Logging
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.CatalystTypeConverters
import org.apache.spark.sql.catalyst.util.TypeUtils
import org.apache.spark.sql.functions.{col, greatest, least}
import org.apache.spark.sql.types.{DataType, IntegerType, StringType, StructField, StructType}

/** The driver gates behind every graph operator: the one place that decides
  * whether a graph runs on the driver and, when it does, how its nodes are
  * dictionary-encoded. Each decision is logged as one INFO line
  * (`driver gate: <operator> ... side=driver|distributed`).
  *
  * The node gate, [[build]], serves [[PageRank]], [[Hits]],
  * [[LabelPropagation]] and [[Bfs]]. It counts the caller's node inventory
  * and admits n <= `broadcastMaxNodes` (and below the JVM array limit). A
  * graph that passes is collected into a dense dictionary (node
  * `nodeVals(i)` ↔ int id i), the (node, id) frames are built once, and the
  * caller's adjacency plan over them is cached as an int-keyed CSR RDD. The
  * operators then keep node-sized state arrays on the driver and run one
  * map-only job per round over the cached adjacency: no per-round shuffle,
  * nothing data-sized on the driver. A graph above the gate keeps its
  * inventory cached for the operator's distributed loop, which is both the
  * path for large graphs and the reference the specs pin the driver path
  * against. `broadcastMaxNodes = 0` forces the distributed loop.
  *
  * The edge gate, [[edges]], serves [[KCore]], [[KTruss]],
  * [[ConnectedComponents]], [[Mst]] and [[Coverage]], whose driver paths
  * need the whole edge list rather than a node vector. It caches the
  * caller's edge frame, runs one job for the row count and the string
  * widths, and admits rows <= `maxEdges` whose estimated heap fits
  * [[MaxBytes]]. A frame that passes is collected once and its first two
  * columns are interned into one dictionary; the caller runs its recurrence
  * on arrays and hands its rows to [[Edges.frame]]. `maxEdges = 0` forces
  * the distributed loop, which reads the cached frame.
  *
  * Driver memory contract. Node gate: the honest driver cost is NOT the
  * 8–16 bytes/node of the state arrays: the dictionary lives as boxed rows
  * while the id mapping materializes (≈100–200 bytes/node for string keys),
  * every round's broadcast ships 8 bytes/node per state vector, and a
  * scatter or out-degree treeAggregate allocates one 8·n-byte scratch per
  * partition. Edge gate: the collected rows are estimated at 64 bytes per
  * row plus 16 per non-string column and 48 + 2·chars per string column,
  * and the gate admits at most [[MaxBytes]] of that. A live-heap class
  * histogram (JDK 17, compressed oops, 400k collected rows) measured 103
  * bytes/row for two longs (estimate 96), 108 for three longs (112) and
  * 132 for a long and a 10-char string (148); the dictionary and the int
  * id arrays added 12–13 bytes/row, and the result rows come on top. The
  * defaults are comfortable in a few-GB driver; raise an entry's bound
  * only with driver and executor memory to match.
  */
private[operators] object DriverCsr extends Logging {

  /** The default `broadcastMaxNodes` of every node-gated entry point. */
  val MaxNodes = 2000000L

  /** The default `maxEdges` of every edge-gated entry point. */
  val MaxEdges = 2000000L

  /** The edge gate's bound on the estimated bytes of the collected rows. */
  val MaxBytes: Long = 256L << 20

  private def decide(op: String, size: String, pass: Boolean): Boolean = {
    logInfo(s"driver gate: $op $size side=${if (pass) "driver" else "distributed"}")
    pass
  }

  /** A graph after the gate: its node count and, on the driver path, the
    * dictionary and the cached adjacency. [[close]] releases both caches.
    */
  final class Graph[A] private[DriverCsr] (
      val n: Long, val nodeType: DataType, inventory: DataFrame,
      csr: Option[(Array[Any], RDD[A])]) {

    def onDriver: Boolean = csr.isDefined
    def nodeVals: Array[Any] = csr.get._1
    def adj: RDD[A] = csr.get._2

    /** The node inventory; cached until [[close]] off the driver path. */
    def nodes: DataFrame = inventory

    /** A local frame of per-node results: `node` followed by `fields`. */
    def frame(rows: Iterator[Row], fields: StructField*): DataFrame = {
      import scala.jdk.CollectionConverters._
      inventory.sparkSession.createDataFrame(rows.toSeq.asJava,
        StructType(StructField("node", nodeType, nullable = true) +: fields))
    }

    def close(): Unit = {
      csr.foreach(_._2.unpersist(blocking = false))
      inventory.unpersist(blocking = false)
    }
  }

  /** One distinct node column over two endpoint columns of `e`. */
  def nodesOf(e: DataFrame, a: String, b: String): DataFrame =
    e.select(col(a).as("node")).union(e.select(col(b).as("node"))).distinct()

  /** The simple undirected graph of `edges`: distinct (a, b) with a < b
    * under Spark's ordering. Self-loops and edges with a null endpoint are
    * dropped (`least`/`greatest` skip nulls, so such an edge has a = b).
    */
  def canonical(edges: DataFrame, srcCol: String, dstCol: String): DataFrame =
    edges.select(least(col(srcCol), col(dstCol)).as("a"),
        greatest(col(srcCol), col(dstCol)).as("b"))
      .filter(col("a") =!= col("b")).distinct()

  /** `df` rebased onto a cached RDD leaf, a statistics firewall for
    * iterative plans; the RDD is returned for the caller to release.
    */
  def rebase(df: DataFrame): (DataFrame, RDD[Row]) = {
    val rdd = df.rdd
    rdd.cache()
    (df.sparkSession.createDataFrame(rdd, df.schema), rdd)
  }

  /** Count `nodes` (one column) and gate it. When 0 < n <= the bound,
    * collect the dictionary (under Spark's ordering of the node type when
    * `sorted`) and cache `adjacency(srcIds, dstIds)`, where `srcIds` is
    * (node, id) and `dstIds` the same rows as (node2, id2). The adjacency
    * materializes on the caller's first action over it.
    */
  def build[A](op: String, nodes: DataFrame, broadcastMaxNodes: Long,
               sorted: Boolean = false)
              (adjacency: (DataFrame, DataFrame) => RDD[A]): Graph[A] = {
    import scala.jdk.CollectionConverters._
    val inv = nodes.persist()
    val n = inv.count()
    val nodeType = inv.schema.fields(0).dataType
    if (!decide(op, s"nodes=$n",
        n > 0 && n <= math.min(broadcastMaxNodes, Int.MaxValue - 8L)))
      return new Graph(n, nodeType, inv, None)
    val collected = inv.collect().map(_.get(0))
    inv.unpersist(blocking = false)
    val nodeVals = if (sorted) collected.sorted(ordering(nodeType)) else collected
    val idRows: java.util.List[Row] =
      nodeVals.zipWithIndex.map { case (v, i) => Row(v, i) }.toSeq.asJava
    val srcIds = inv.sparkSession.createDataFrame(idRows, StructType(Seq(
      StructField("node", nodeType, nullable = true),
      StructField("id", IntegerType, nullable = false))))
    val adj = adjacency(srcIds,
      srcIds.select(col("node").as("node2"), col("id").as("id2")))
    adj.cache()
    new Graph(n, nodeType, inv, Some((nodeVals, adj)))
  }

  /** An edge frame after the edge gate: its row count, estimated bytes and
    * rows with a null in either of the first two columns; the collected
    * rows on the driver path. Off the driver path the distributed loop
    * reads `cached`, the frame rebased onto `cachedRdd`, which [[close]]
    * releases (the gate released it already on the driver path).
    */
  final class Edges private[DriverCsr] (
      val count: Long, val bytes: Long, val nullEndpoints: Long,
      val cached: DataFrame, val cachedRdd: RDD[Row], collected: Option[Array[Row]],
      sorted: Boolean) {

    def onDriver: Boolean = collected.isDefined
    def rows: Array[Row] = collected.get
    def schema: StructType = cached.schema

    /** The first two columns interned into one dictionary: node
      * `nodeVals(i)` ↔ id i, and each row's two endpoint ids. Ids follow
      * [[ordering]] when the gate was asked for sorted ids.
      */
    lazy val (nodeVals: Array[Any], src: Array[Int], dst: Array[Int]) = {
      val idx = new java.util.HashMap[Any, Integer]()
      val vals = scala.collection.mutable.ArrayBuffer.empty[Any]
      def id(v: Any): Int = {
        // binary keys compare by content, as Spark groups them
        val key = v match { case b: Array[Byte] => java.nio.ByteBuffer.wrap(b); case x => x }
        val e = idx.get(key)
        if (e != null) e.intValue()
        else { idx.put(key, vals.length); vals += v; vals.length - 1 }
      }
      val s = rows.map(r => id(r.get(0)))
      val d = rows.map(r => id(r.get(1)))
      if (!sorted) (vals.toArray, s, d)
      else {
        val ord = ordering(schema.fields(0).dataType)
        val byValue = vals.indices.toArray.sortWith((i, j) => ord.lt(vals(i), vals(j)))
        val rank = new Array[Int](byValue.length)
        byValue.indices.foreach(r => rank(byValue(r)) = r)
        (byValue.map(vals), s.map(rank), d.map(rank))
      }
    }

    /** A local result frame over `out`, sliced one partition per 64k rows
      * (at most 32).
      */
    def frame(out: Seq[Row], outSchema: StructType): DataFrame = {
      val spark = cached.sparkSession
      val slices = math.max(1, math.min(32, out.length / 65536 + 1))
      spark.createDataFrame(spark.sparkContext.parallelize(out, slices), outSchema)
    }

    def close(): Unit = cachedRdd.unpersist(blocking = false)
  }

  /** The edge gate. Caches `e`, then one job returns its row count, the
    * code points of its string columns and its rows with a null endpoint.
    * Rows are estimated at 64 bytes plus 16 per non-string column and
    * 48 + 2·chars per string column (chars averaged over the rows). When
    * count <= `maxEdges` (and the JVM array limit) and the estimate fits
    * `maxBytes`, the rows are collected and the cache released.
    */
  def edges(op: String, e: DataFrame, maxEdges: Long, sorted: Boolean = false,
            maxBytes: Long = MaxBytes): Edges = {
    val (leaf, rdd) = rebase(e)
    val strings = e.schema.fields.indices
      .filter(i => e.schema.fields(i).dataType == StringType).toArray
    val (n, chars, nulls) = rdd.aggregate((0L, 0L, 0L))({ case ((n, c, z), r) =>
      var w = 0L
      strings.foreach { i =>
        if (!r.isNullAt(i)) { val s = r.getString(i); w += s.codePointCount(0, s.length) }
      }
      (n + 1, c + w, if (r.isNullAt(0) || r.isNullAt(1)) z + 1 else z)
    }, { case ((n1, c1, z1), (n2, c2, z2)) => (n1 + n2, c1 + c2, z1 + z2) })
    val avgChars = if (n == 0) 0.0 else chars.toDouble / n
    val perRow = 64L + strings.length * 48L + (e.schema.length - strings.length) * 16L +
      (2 * avgChars).toLong
    val bytes = n * perRow
    if (!decide(op, s"rows=$n bytes=$bytes",
        n <= math.min(maxEdges, Int.MaxValue - 8L) && bytes <= maxBytes))
      return new Edges(n, bytes, nulls, leaf, rdd, None, sorted)
    val rows = rdd.collect()
    rdd.unpersist(blocking = false)
    new Edges(n, bytes, nulls, leaf, rdd, Some(rows), sorted)
  }

  /** Spark's ascending order for collected values of type `t`, nulls
    * first: numeric for numbers, unsigned UTF-8 bytes for strings, days
    * and microseconds for dates and timestamps — what an ORDER BY or a
    * `min(struct(...))` over the column compares.
    */
  def ordering(t: DataType): Ordering[Any] = {
    val internal = CatalystTypeConverters.createToCatalystConverter(t)
    val ord = TypeUtils.getInterpretedOrdering(t)
    (a: Any, b: Any) =>
      if (a == null) { if (b == null) 0 else -1 }
      else if (b == null) 1
      else ord.compare(internal(a), internal(b))
  }
}
